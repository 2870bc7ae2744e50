package graft

import org.apache.spark.sql.functions._

import graft.functions.Similarity
import graft.operators.{MemoryOps, VectorSearch}

class MemoryBucketSourceSpec extends SparkSpec {
  import spark.implicits._

  private val nBuckets = 8
  private lazy val storeDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_").toString
    MemoryOps.writeBucketed(
      Tables.memories(spark, sf0001), dir, "id", nBuckets)
    dir
  }
  private def source =
    spark.read.format("graft.sources.MemoryBucketSource")
      .option("path", storeDir).option("nBuckets", nBuckets.toString)
      .option("idCol", "id").load()

  test("source read == parquet read of the same layout (schema and rows)") {
    val viaSource = source
      .select($"id", $"text", $"lang", $"source", $"label", $"embedding")
      .orderBy($"id")
      .as[(Long, String, String, String, Int, Array[Float])].collect().toSeq
    val viaParquet = MemoryOps.readBucketed(spark, storeDir)
      .select($"id", $"text", $"lang", $"source", $"label", $"embedding")
      .orderBy($"id")
      .as[(Long, String, String, String, Int, Array[Float])].collect().toSeq
    assert(viaSource.size == viaParquet.size && viaSource.nonEmpty)
    viaSource.zip(viaParquet).foreach { case (a, b) =>
      assert(a._1 == b._1 && a._2 == b._2 && a._5 == b._5)
      assert(a._6.toSeq == b._6.toSeq)
    }
    // every column shape the decoder handles, NULLs included, from one
    // flat file of several row groups
    val shapes = shapesDir
    def norm(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.orderBy($"id").collect().toSeq.map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      })
    val viaParquetShapes = spark.read.parquet(shapes)
    val viaSourceShapes = spark.read.format("graft.sources.MemoryBucketSource")
      .option("path", shapes).load()
    assert(viaSourceShapes.schema.map(f => f.name -> f.dataType) ==
      viaParquetShapes.schema.map(f => f.name -> f.dataType))
    val want = norm(viaParquetShapes)
    assert(want.size == 1000 && want.exists(_.contains(null)))
    assert(norm(viaSourceShapes) == want)
    // a pushed range: row groups outside it are skipped by their stats,
    // the record filter cuts the two groups it straddles
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(
          graft.sources.MemoryBucketSource.listFiles(shapes, None).head),
        new org.apache.hadoop.conf.Configuration()))
    val rowGroups = try footer.getRowGroups.size() finally footer.close()
    assert(rowGroups > 2, s"fixture has only $rowGroups row groups")
    val range = $"id" >= 137L && $"id" < 611L
    val ranged = viaSourceShapes.where(range)
    assert(ranged.queryExecution.executedPlan.toString
      .contains("GreaterThanOrEqual(id,137)"))
    assert(norm(ranged) == norm(viaParquetShapes.where(range)))
    assert(norm(ranged).size == 611 - 137)
  }

  /** One parquet file (flat, unbucketed layout) of 1,000 rows in several
    * row groups: array<double|long|string> with NULL and empty lists and
    * NULL elements, and nullable int, float, boolean, string and binary
    * columns holding NULLs. */
  private lazy val shapesDir: String = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("d", ArrayType(DoubleType, containsNull = true)),
      StructField("l", ArrayType(LongType, containsNull = true)),
      StructField("s", ArrayType(StringType, containsNull = true)),
      StructField("n", IntegerType),
      StructField("f", FloatType),
      StructField("flag", BooleanType),
      StructField("str", StringType),
      StructField("bin", BinaryType)))
    def orNull(cond: Boolean, v: Any): Any = if (cond) null else v
    val rows = (0 until 1000).map { i =>
      Row(i.toLong,
        orNull(i % 7 == 0, Seq(i * 0.5, orNull(i % 5 == 0, -i.toDouble), 1e-3)),
        orNull(i % 11 == 0,
          if (i % 13 == 0) Seq.empty else Seq(i.toLong, orNull(i % 3 == 0, i * 2L))),
        orNull(i % 17 == 0, Seq(s"a$i", orNull(i % 4 == 0, "x"), "")),
        orNull(i % 3 == 0, i),
        orNull(i % 8 == 0, i / 3.0f),
        orNull(i % 9 == 0, i % 2 == 0),
        orNull(i % 6 == 0, s"t$i"),
        orNull(i % 5 == 1, Array[Byte](i.toByte, 1, 2)))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_shapes_").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").option("parquet.block.size", "2048").parquet(dir)
    dir
  }

  test("v2/v5-shaped query through the source: filters reach the scan description") {
    val q = Tables.queryVector(spark, sf0001, 0L)
    val df = VectorSearch.topK(source, q, k = 10, idCol = "id",
      predicate = Some($"label" === 2), threshold = Some(0.0))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftMemoryBucketScan"))
    assert(plan.contains("PushedFilters: ") && plan.contains("EqualTo(label,2)"),
      s"missing pushed label filter in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"))
    // and the result matches the same query over the plain parquet read
    val expected = VectorSearch.topK(
        MemoryOps.readBucketed(spark, storeDir), q, k = 10, idCol = "id",
        predicate = Some($"label" === 2), threshold = Some(0.0))
      .select($"id", round($"score", 6).as("s"))
      .as[(Long, Double)].collect().toSeq
    val got = df.select($"id", round($"score", 6).as("s"))
      .as[(Long, Double)].collect().toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("point lookup: id equality prunes to ONE bucket and pushes the limit") {
    val df = source.where($"id" === 7L).limit(1)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(id,7)"))
    assert(plan.contains("PushedLimit: 1"), s"limit not pushed in:\n$plan")
    assert(plan.contains("Buckets: {"), s"no bucket pruning in:\n$plan")
    // partitions = files of exactly one bucket, not the whole store
    val scanned = df.rdd.getNumPartitions
    val allFiles = graft.sources.MemoryBucketSource.listFiles(storeDir, None).size
    assert(scanned < allFiles, s"scanned $scanned of $allFiles files")
    assert(df.select($"id").as[Long].collect().toSeq == Seq(7L))
  }

  test("pushed range + IsNotNull filters are evaluated store-side, exactly") {
    val got = source.where($"label" >= 2 && $"label" < 4 && $"id" < 100L)
      .select($"id", $"label").orderBy($"id")
      .as[(Long, Int)].collect().toSeq
    val expected = MemoryOps.readBucketed(spark, storeDir)
      .where($"label" >= 2 && $"label" < 4 && $"id" < 100L)
      .select($"id", $"label").orderBy($"id")
      .as[(Long, Int)].collect().toSeq
    assert(got == expected && got.nonEmpty)
    val plan = source.where($"label" >= 2 && $"label" < 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(label,2)") &&
      plan.contains("LessThan(label,4)"))
  }

  test("unbootstrapped store path maps to the 503 taxonomy error") {
    val missing = java.nio.file.Files.createTempDirectory("graft_empty_").toString
    val e = intercept[graft.UnavailableException] {
      spark.read.format("graft.sources.MemoryBucketSource")
        .option("path", missing).load()
    }
    assert(e.status == 503)
  }

  test("column pruning narrows the parquet read schema") {
    val df = source.select($"id", $"label")
    assert(df.queryExecution.executedPlan.toString.contains("GraftMemoryBucketScan"))
    assert(df.schema.fieldNames.toSeq == Seq("id", "label"))
    assert(df.count() == source.count())
  }

  test("pushed top-N: ORDER BY stored columns LIMIT k runs store-side") {
    val df = source.select($"id", $"label")
      .orderBy($"label".desc, $"id".asc).limit(5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTopN: ORDER BY [label DESC, id ASC] LIMIT 5"),
      s"top-N not pushed in:\n$plan")
    // partial pushdown: Spark keeps the global cut over the per-partition heaps
    assert(plan.contains("TakeOrderedAndProject"))
    val got = df.as[(Long, Int)].collect().toSeq
    val want = MemoryOps.readBucketed(spark, storeDir).select($"id", $"label")
      .orderBy($"label".desc, $"id".asc).limit(5)
      .as[(Long, Int)].collect().toSeq
    assert(got == want && got.size == 5)
  }

  test("v5-shaped threshold + top-k over a STORED score column delegates both to the source") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_score_").toString
    // deterministic stored score, the shape the reference's Qdrant path
    // stores and delegates (threshold + limit store-side)
    MemoryOps.writeBucketed(
      Tables.memories(spark, sf0001)
        .withColumn("score", ($"id" * 37 % 101).cast("double")),
      dir, "id", nBuckets)
    val src = spark.read.format("graft.sources.MemoryBucketSource")
      .option("path", dir).option("nBuckets", nBuckets.toString)
      .option("idCol", "id").load()
    val df = src.select($"id", $"score")
      .where($"score" >= 40.0)
      .orderBy($"score".desc, $"id".asc).limit(10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(score,40.0)"),
      s"threshold not pushed in:\n$plan")
    assert(plan.contains("PushedTopN: ORDER BY [score DESC, id ASC] LIMIT 10"),
      s"top-N not pushed in:\n$plan")
    val got = df.as[(Long, Double)].collect().toSeq
    val want = MemoryOps.readBucketed(spark, dir).select($"id", $"score")
      .where($"score" >= 40.0)
      .orderBy($"score".desc, $"id".asc).limit(10)
      .as[(Long, Double)].collect().toSeq
    assert(got == want && got.size == 10)
  }

  test("scored top-k: the COMPUTED cosine + threshold + limit all run store-side") {
    // the full Qdrant delegation (src/vector_store.rs:265-310): the query
    // vector travels to the store, which scores, thresholds, and returns
    // each bucket's local top-k — Spark only merges nBuckets·k candidates
    val q = Tables.queryVector(spark, sf0001, 0L)
    val df = graft.sources.MemoryBucketSource.search(
      spark, storeDir, nBuckets, q, k = 10, threshold = Some(0.0))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTopN: ORDER BY [score DESC, id ASC] LIMIT 10"),
      s"scored top-N not pushed in:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(score,0.0)") &&
      plan.contains("IsNotNull(score)"),
      s"score threshold not pushed in:\n$plan")
    assert(plan.contains("PushedScore: cosine(embedding,"),
      s"scorer not delegated in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"))
    // rows identical to the table path (same kernel arithmetic, same
    // null rules, same tie-break)
    val got = df.select($"id", round($"score", 6).as("s"))
      .as[(Long, Double)].collect().toSeq
    val want = VectorSearch.topK(
        MemoryOps.readBucketed(spark, storeDir), q, k = 10, idCol = "id",
        threshold = Some(0.0))
      .select($"id", round($"score", 6).as("s"))
      .as[(Long, Double)].collect().toSeq
    assert(got == want && got.size == 10)
    // unrounded scores match bit-for-bit: the store-side scorer IS the
    // kernel's fold
    val gotRaw = df.select($"id", $"score").as[(Long, Double)].collect().toMap
    val wantRaw = VectorSearch.topK(
        MemoryOps.readBucketed(spark, storeDir), q, k = 10, idCol = "id",
        threshold = Some(0.0))
      .select($"id", $"score").as[(Long, Double)].collect().toMap
    assert(gotRaw == wantRaw)
  }

  test("one loaded store frame serves the scored top-k for two query vectors") {
    // the query vector travels in the plan, so one resolved relation
    // serves every request; each plan still delegates the scored top-k
    val store = graft.sources.MemoryBucketSource.load(spark, storeDir, nBuckets)
    val table = MemoryOps.readBucketed(spark, storeDir)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.select($"id", $"score").as[(Long, Double)].collect().toSeq
    // the second request also asks for a present embedding: the reader
    // checks a list column's IS NOT NULL itself, so the top-k still pushes
    for ((v, pred) <- Seq(0L -> None, 5L -> Some($"embedding".isNotNull))) {
      val q = Tables.queryVector(spark, sf0001, v)
      val df = VectorSearch.topK(store, q, k = 10, idCol = "id", predicate = pred)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedScore: cosine(embedding, [") &&
        plan.contains("PushedTopN: ORDER BY [score DESC, id ASC]"),
        s"scored top-k not delegated for vector $v:\n$plan")
      val got = rows(df)
      assert(got == rows(VectorSearch.topK(table, q, k = 10, idCol = "id",
        predicate = pred)) && got.size == 10)
    }
    // the literal first is not the store's call shape: nothing is
    // delegated, and the plan still returns the table path's rows
    val q = Tables.queryVector(spark, sf0001, 0L)
    val rev = store
      .withColumn("score", Similarity.cosine(typedlit(q), $"embedding"))
      .where($"score".isNotNull).orderBy($"score".desc, $"id".asc).limit(10)
    val plan = rev.queryExecution.executedPlan.toString
    assert(plan.contains("PushedScore: none"), s"reversed call delegated:\n$plan")
    assert(rows(rev) == rows(VectorSearch.topK(table, q, k = 10, idCol = "id")))
  }

  test("scored search: dot and euclid metrics delegate with identical results") {
    val q = Tables.queryVector(spark, sf0001, 3L)
    for (metric <- Seq("dot", "euclid")) {
      val got = graft.sources.MemoryBucketSource.search(
          spark, storeDir, nBuckets, q, k = 8, metric = metric)
        .select($"id", round($"score", 6).as("s"))
        .as[(Long, Double)].collect().toSeq
      val want = VectorSearch.topK(
          MemoryOps.readBucketed(spark, storeDir), q, k = 8, idCol = "id",
          metric = metric)
        .select($"id", round($"score", 6).as("s"))
        .as[(Long, Double)].collect().toSeq
      assert(got == want && got.size == 8, s"metric $metric diverged")
    }
    // an unknown metric fails when the source is loaded, before any row
    val e = intercept[IllegalArgumentException](
      graft.sources.MemoryBucketSource.search(
        spark, storeDir, nBuckets, q, k = 8, metric = "manhattan"))
    assert(e.getMessage.contains("unknown distance metric"), e.getMessage)
  }

  test("scored search drops dimension-mismatch rows store-side (null score)") {
    // a store whose first row's embedding has the wrong dimension: the
    // store-side scorer nulls it, the pushed IsNotNull drops it — same
    // V4 exclusion semantics as the table path
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_dim_").toString
    val rows = Seq(
      (1L, Array(1f, 2f)),            // wrong dim -> null score -> dropped
      (2L, Array(1f, 0f, 0f)),
      (3L, Array(0f, 0f, 0f)),        // zero magnitude -> null -> dropped
      (4L, Array(0f, 1f, 0f))).toDF("id", "embedding")
    MemoryOps.writeBucketed(rows, dir, "id", 4)
    val got = graft.sources.MemoryBucketSource.search(
        spark, dir, 4, Seq(1f, 1f, 0f), k = 10)
      .select($"id").as[Long].collect().toSet
    assert(got == Set(2L, 4L))
  }

  test("scored search: a NULL embedding element scores NULL store-side, as in the table path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_nullel_").toString
    val rows = Seq(
      (1L, Seq(Some(1f), None, Some(2f))),    // NULL element -> null score -> dropped
      (2L, Seq(Some(1f), Some(0f), Some(2f))),
      (3L, Seq(Some(0f), Some(1f), Some(1f)))).toDF("id", "embedding")
    MemoryOps.writeBucketed(rows, dir, "id", 4)
    val q = Seq(1f, 1f, 1f)
    val got = graft.sources.MemoryBucketSource.search(spark, dir, 4, q, k = 10)
      .select($"id", $"score").as[(Long, Double)].collect().toSeq
    val want = VectorSearch.topK(MemoryOps.readBucketed(spark, dir), q, k = 10,
        idCol = "id")
      .select($"id", $"score").as[(Long, Double)].collect().toSeq
    assert(got == want && got.map(_._1) == Seq(3L, 2L))
  }

  test("bucket pruning hashes by the id column's actual type (int and string ids)") {
    // INT ids: Spark's xxhash64 hashes 32-bit values with hashInt, not
    // hashLong — driver-side pruning must match or lookups silently miss
    val intDir = java.nio.file.Files.createTempDirectory("graft_dsv2_int_").toString
    MemoryOps.writeBucketed(
      (0 until 64).map(i => (i, s"t$i")).toDF("id", "text"), intDir, "id", 8)
    val intSrc = spark.read.format("graft.sources.MemoryBucketSource")
      .option("path", intDir).option("nBuckets", "8").option("idCol", "id").load()
    for (id <- Seq(0, 7, 23, 42, 63)) {
      val one = intSrc.where($"id" === id)
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains("Buckets: {"), s"id=$id not pruned:\n$plan")
      assert(one.select($"text").as[String].collect().toSeq == Seq(s"t$id"),
        s"id=$id lookup missed its bucket")
    }
    // STRING ids — the reference store's actual key type (UUIDs)
    val strDir = java.nio.file.Files.createTempDirectory("graft_dsv2_str_").toString
    MemoryOps.writeBucketed(
      (0 until 64).map(i => (s"m-$i", i)).toDF("id", "n"), strDir, "id", 8)
    val strSrc = spark.read.format("graft.sources.MemoryBucketSource")
      .option("path", strDir).option("nBuckets", "8").option("idCol", "id").load()
    for (i <- Seq(0, 9, 31, 57)) {
      val one = strSrc.where($"id" === s"m-$i")
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains("Buckets: {"), s"m-$i not pruned:\n$plan")
      assert(one.select($"n").as[Int].collect().toSeq == Seq(i),
        s"m-$i lookup missed its bucket")
    }
    // THE bucket rule: its driver-side evaluation (pruning and the
    // point lookups) == the writer's column evaluated on a frame, per
    // stored id type and for cross-typed literals, which are cast to
    // the stored type before hashing
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val tz = spark.conf.get("spark.sql.session.timeZone")
    def onFrame(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select(MemoryOps.bucketOf("id", 8)).as[Long].collect().toSeq
    def driverSide(ids: Seq[Any], t: org.apache.spark.sql.types.DataType) =
      ids.map(MemoryOps.bucketOfId(_, t, 8, tz))
    val longs = Seq(0L, 7L, 42L, -5L, 1L << 40, Long.MinValue, Long.MaxValue)
    val ints = Seq(0, 7, 23, 42, 63, -5, Int.MinValue, Int.MaxValue)
    val strs = Seq("", "m-0", "m-9", "m-57", "ünï-cødé")
    assert(driverSide(longs, LongType) == onFrame(longs.toDF("id")))
    assert(driverSide(ints, IntegerType) == onFrame(ints.toDF("id")))
    assert(driverSide(strs, StringType) == onFrame(strs.toDF("id")))
    // an Int literal on a long column, a Long literal on an int column
    assert(driverSide(ints, LongType) == onFrame(ints.map(_.toLong).toDF("id")))
    assert(driverSide(ints.map(_.toLong), IntegerType) == onFrame(ints.toDF("id")))
    // and the cast is load-bearing: xxhash64 hashes 32 and 64 bits apart
    assert(driverSide(ints, IntegerType) != driverSide(ints, LongType))
  }

  test("global count/min/max push into the store; per-file partials merge correctly") {
    val df = source.where($"label" === 2)
      .agg(expr("count(*)").as("n"), min($"id").as("lo"), max($"id").as("hi"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [count(*), min(id), max(id)]"),
      s"aggregate not pushed:\n$plan")
    val got = df.as[(Long, Long, Long)].collect().head
    val exp = MemoryOps.readBucketed(spark, storeDir).where($"label" === 2)
      .agg(expr("count(*)").as("n"), min($"id").as("lo"), max($"id").as("hi"))
      .as[(Long, Long, Long)].collect().head
    assert(got == exp && got._1 > 0)
    // unfiltered: zero data rows cross the scan, only one partial/file
    val all = source.agg(expr("count(*)"), max($"label"))
    assert(all.queryExecution.executedPlan.toString
      .contains("PushedAggregates: [count(*), max(label)]"))
    assert(all.as[(Long, Int)].collect().head ==
      MemoryOps.readBucketed(spark, storeDir)
        .agg(expr("count(*)"), max($"label")).as[(Long, Int)].collect().head)
  }

  test("aggregate pushdown declines grouping, avg, and the computed score column") {
    // GROUP BY → declined, plain scan stands, result still right
    val grouped = source.groupBy($"lang").agg(expr("count(*)").as("n"))
    assert(grouped.queryExecution.executedPlan.toString
      .contains("PushedAggregates: none"))
    val got = grouped.orderBy($"lang").as[(String, Long)].collect().toSeq
    val exp = MemoryOps.readBucketed(spark, storeDir)
      .groupBy($"lang").agg(expr("count(*)").as("n"))
      .orderBy($"lang").as[(String, Long)].collect().toSeq
    assert(got == exp && got.nonEmpty)
    // AVG (unsupported func) → declined, correct through the plain path
    val avg1 = source.agg(avg($"label"))
    assert(avg1.queryExecution.executedPlan.toString
      .contains("PushedAggregates: none"))
    assert(avg1.as[Double].collect().head ==
      MemoryOps.readBucketed(spark, storeDir).agg(avg($"label"))
        .as[Double].collect().head)
  }

  private def scanStats(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.connector.read.Statistics = {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val rel = df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r
    }.getOrElse(fail("no DSv2 scan in the optimized plan"))
    rel.scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
  }

  test("reported statistics: exact footer rows, shrinking under bucket" +
      " pruning and top-N caps") {
    val total = MemoryOps.readBucketed(spark, storeDir).count()
    val full = scanStats(source.select($"id", $"label"))
    assert(full.numRows().getAsLong == total, "full-scan rows must be exact")
    assert(full.sizeInBytes().getAsLong > 0)
    // id equality prunes to ONE bucket directory: rows shrink to that
    // bucket's exact footer count, size shrinks with them
    val pruned = scanStats(source.where($"id" === 7L).select($"id"))
    assert(pruned.numRows().getAsLong < total && pruned.numRows().getAsLong > 0,
      s"bucket pruning not reflected: ${pruned.numRows()} vs $total")
    assert(pruned.sizeInBytes().getAsLong < full.sizeInBytes().getAsLong)
    // pushed top-N caps the estimate at n rows per file
    val capped = scanStats(source.orderBy($"id".desc).limit(3))
    assert(capped.numRows().getAsLong <= 3L * nBuckets)
    // pushed aggregate collapses to one partial row per file
    val agg1 = scanStats(source.agg(expr("count(*)")))
    assert(agg1.numRows().getAsLong <= nBuckets)
  }

  test("runtime filtering: a late id set prunes bucket directories at" +
      " execution time, composing with plan-time pruning") {
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    import org.apache.spark.sql.sources.{EqualTo, In}
    def scanOf(df: org.apache.spark.sql.DataFrame): SupportsRuntimeFiltering =
      df.queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r
      }.get.scan.asInstanceOf[SupportsRuntimeFiltering]
    val scan = scanOf(source.select($"id", $"label"))
    assert(scan.filterAttributes().map(_.describe()).toSeq == Seq("id"))
    val allFiles = scan.toBatch.planInputPartitions().length
    assert(allFiles == nBuckets)
    // runtime In(id, {7, 42}) → at most 2 bucket directories survive
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      In("id", Array(7L, 42L))))
    val pruned = scan.toBatch.planInputPartitions().length
    assert(pruned <= 2 && pruned < allFiles,
      s"runtime filter did not prune: $pruned of $allFiles")
    // composes by INTERSECTION with a plan-time id filter: a plan-time
    // id=7 scan further filtered to id=42 at runtime reads NOTHING
    val scan2 = scanOf(source.where($"id" === 7L).select($"id"))
    scan2.filter(Array[org.apache.spark.sql.sources.Filter](
      EqualTo("id", 42L)))
    val b7 = graft.sources.MemoryBucketSource
      .listFiles(storeDir, None).length // sanity: store still lists
    assert(b7 == nBuckets)
    assert(scan2.toBatch.planInputPartitions().isEmpty ||
      scan2.toBatch.planInputPartitions().length == 1)
    // an unhashable runtime filter shape leaves the scan untouched
    val scan3 = scanOf(source.select($"id"))
    scan3.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThan("id", 5L)))
    assert(scan3.toBatch.planInputPartitions().length == allFiles)
  }

  test("a join against a filtered slice broadcasts from reported stats" +
      " alone — no broadcast() hint") {
    // the fact side is 3M rows (~24 MB of plan-visible size, over the
    // 10 MB auto-broadcast threshold), so a BroadcastHashJoin can ONLY
    // appear if the planner trusts the STORE's reported statistics for
    // the slice side — without them a DSv2 relation costs
    // defaultSizeInBytes and this join must sort-merge
    val facts = spark.range(0, 3000000).select($"id".as("fact_id"))
    val slice = source.where($"label" === 2).select($"id", $"label")
    val joined = facts.join(slice, $"fact_id" === $"id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"stats did not drive a broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fact side shuffled:\n$plan")
    // and the broadcast plan returns the right rows
    val exp = MemoryOps.readBucketed(spark, storeDir)
      .where($"label" === 2 && $"id" < 3000000).count()
    assert(joined.count() == exp && exp > 0)
  }
}
