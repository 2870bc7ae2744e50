package graft.sources

import java.util.OptionalLong

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.conf.{HadoopParquetConfiguration, ParquetConfiguration}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, PrimitiveType, Type => PType}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 read path for the bucketed memory layout
  * ([[graft.operators.MemoryOps.writeBucketed]]: parquet files under
  * `__bucket=k/` dirs, bucket = [[graft.operators.MemoryOps.bucketOf]]) that
  * DELEGATES work to the store, the way the reference's Qdrant scan does
  * (score threshold + limit + session filter evaluated store-side,
  * src/vector_store.rs:277-293):
  *
  *  - `SupportsPushDownFilters`: predicates become parquet
  *    `FilterPredicate`s evaluated by the parquet reader (row-group
  *    stats pruning + record-level assembly skips) — accepted filters
  *    are handled EXACTLY store-side, so Spark drops its own copy.
  *  - id-equality filters additionally prune whole BUCKET DIRECTORIES
  *    (the writer's own bucket rule, evaluated driver-side) — the
  *    point-lookup never opens 15 of 16 buckets.
  *  - `SupportsPushDownLimit`: the per-partition reader stops after
  *    `limit` rows (partial pushdown; Spark keeps the global limit).
  *  - `SupportsPushDownTopN`: `ORDER BY <stored cols> LIMIT k` runs
  *    store-side as a bounded per-partition heap — the analog of the
  *    reference's scored-top-k delegation (limit + score order evaluated
  *    by the store, src/vector_store.rs:277-293); partial pushdown,
  *    Spark keeps the global cut.
  *  - `SupportsPushDownRequiredColumns`: the parquet read schema carries
  *    only requested columns.
  *  - `SupportsReportStatistics`: exact footer row counts + pruned-size
  *    estimates AFTER pushdown, so a filtered store slice can win an
  *    automatic broadcast join (the store-side analog of the reference's
  *    collection point-count introspection, src/vector_store.rs:300-310).
  *  - `SupportsRuntimeFiltering`: a broadcast join's id set prunes
  *    bucket directories at EXECUTION time (dynamic partition pruning
  *    for the store layout).
  *
  * Usage: `spark.read.format("graft.sources.MemoryBucketSource")
  * .option("path", dir).option("nBuckets", 16).load()`.
  * Local-filesystem listing (java.io) — the fixture store; a cluster
  * deployment swaps in the Hadoop FileSystem listing, nothing else.
  */
class MemoryBucketSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base =
      MemoryBucketSource.inferSchema(MemoryBucketSource.firstFile(options.get("path")))
    // a configured scorer appends its COMPUTED column to the table schema:
    // downstream it is an ordinary (orderable, filterable) column, which is
    // exactly what lets the stock pushdown machinery absorb score
    // thresholds and the scored top-k
    MemoryBucketSource.scoreSpecFrom(options.get).fold(base)(sp =>
      base.add(StructField(sp.output, DoubleType, nullable = true)))
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new MemoryBucketTable(
      properties.get("path"),
      schema,
      Option(properties.get("nBuckets")).map(_.toInt),
      Option(properties.get("idCol")).getOrElse("id"),
      MemoryBucketSource.scoreSpecFrom(k => properties.get(k)))
}

object MemoryBucketSource {

  /** Store-side scoring configuration — the engine analog of the query
    * vector the reference SENDS TO Qdrant so the store itself evaluates
    * cosine + threshold + limit (src/vector_store.rs:265-310). The vector
    * arrives as a comma-separated float option; floats round-trip
    * `toString`/`toFloat` exactly, so the store scores the same f32
    * values the table path does. */
  private[sources] case class ScoreSpec(
      vec: Array[Double], metric: String, column: String, output: String)

  private[sources] def scoreSpecFrom(get: String => String): Option[ScoreSpec] =
    Option(get("scoreVector")).map { s =>
      ScoreSpec(
        s.split(",").map(_.trim.toFloat.toDouble),
        Option(get("scoreMetric")).getOrElse("cosine").toLowerCase,
        Option(get("scoreColumn")).getOrElse("embedding"),
        Option(get("scoreOutput")).getOrElse("score"))
    }

  /** The store-side scorer over the first `n` values of `emb`. MIRRORS
    * [[graft.functions.Similarity.score]] bit-for-bit: the same
    * deterministic left-to-right double folds over f32-promoted
    * elements, the same NULL rules (dimension mismatch → null; zero
    * magnitude on either cosine side → null; the reader nulls a vector
    * with a NULL element before it gets here) — so a scored row coming
    * off the store is indistinguishable from one scored by the Catalyst
    * kernel. */
  private[sources] def computeScore(emb: Array[Double], n: Int, q: Array[Double],
                                    metric: String): java.lang.Double = {
    if (n != q.length) return null
    metric match {
      case "cosine" =>
        var dot = 0.0; var sa = 0.0; var sb = 0.0; var i = 0
        while (i < q.length) {
          val x = emb(i); val y = q(i)
          dot += x * y; sa += x * x; sb += y * y; i += 1
        }
        val ma = math.sqrt(sa); val mb = math.sqrt(sb)
        if (ma == 0.0 || mb == 0.0) null
        else java.lang.Double.valueOf(dot / (ma * mb))
      case "dot" =>
        var d = 0.0; var i = 0
        while (i < q.length) { d += emb(i) * q(i); i += 1 }
        java.lang.Double.valueOf(d)
      case "euclid" | "euclidean" =>
        var s = 0.0; var i = 0
        while (i < q.length) { val t = emb(i) - q(i); s += t * t; i += 1 }
        java.lang.Double.valueOf(1.0 / (1.0 + math.sqrt(s)))
      case m => throw new IllegalArgumentException(s"unknown distance metric: $m")
    }
  }

  /** A filter over the computed score, evaluated inside the reader with
    * SQL three-valued semantics: a null score fails every accepted
    * predicate, exactly as the table path's post-scan Filter would. */
  private[sources] sealed trait ScorePred extends Serializable {
    def accepts(s: java.lang.Double): Boolean
  }
  private[sources] case class ScoreCmp(op: String, v: Double) extends ScorePred {
    override def accepts(s: java.lang.Double): Boolean =
      s != null && (op match {
        case "ge" => s.doubleValue() >= v
        case "gt" => s.doubleValue() > v
        case "le" => s.doubleValue() <= v
        case "lt" => s.doubleValue() < v
        case "eq" => s.doubleValue() == v
      })
  }
  private[sources] case object ScoreNotNull extends ScorePred {
    override def accepts(s: java.lang.Double): Boolean = s != null
  }

  private[sources] def scorePredOf(f: Filter, out: String): Option[ScorePred] =
    f match {
      case sources.GreaterThanOrEqual(c, v: Number) if c == out =>
        Some(ScoreCmp("ge", v.doubleValue()))
      case sources.GreaterThan(c, v: Number) if c == out =>
        Some(ScoreCmp("gt", v.doubleValue()))
      case sources.LessThanOrEqual(c, v: Number) if c == out =>
        Some(ScoreCmp("le", v.doubleValue()))
      case sources.LessThan(c, v: Number) if c == out =>
        Some(ScoreCmp("lt", v.doubleValue()))
      case sources.EqualTo(c, v: Number) if c == out =>
        Some(ScoreCmp("eq", v.doubleValue()))
      case sources.IsNotNull(c) if c == out => Some(ScoreNotNull)
      case _ => None
    }

  /** The reference's full Qdrant search, delegated: score + threshold +
    * top-k all evaluated store-side (src/vector_store.rs:265-310). The
    * plan this builds is scan-absorbable end to end — the score filters
    * and the `ORDER BY score DESC, id ASC LIMIT k` both push into the
    * scan, so each bucket returns its local top-k SCORED rows and
    * Spark's TakeOrderedAndProject only merges nBuckets·k candidates. */
  def search(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      nBuckets: Int,
      queryVec: Seq[Float],
      k: Int,
      threshold: Option[Double] = None,
      metric: String = "cosine",
      idCol: String = "id"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("graft.sources.MemoryBucketSource")
      .option("path", path)
      .option("nBuckets", nBuckets.toString)
      .option("idCol", idCol)
      .option("scoreVector", queryVec.map(_.toString).mkString(","))
      .option("scoreMetric", metric)
      .load()
    val live = df.where(col("score").isNotNull)
    val cut = threshold.fold(live)(t => live.where(col("score") >= t))
    cut.orderBy(col("score").desc, col(idCol).asc).limit(k)
  }

  /** All data files of the layout, optionally restricted to a bucket set. */
  def listFiles(root: String, buckets: Option[Set[Long]]): Seq[String] = {
    val dir = new java.io.File(root)
    val bucketDirs = Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
    val selected =
      if (bucketDirs.isEmpty) Seq(dir) // unbucketed fallback: flat files
      else bucketDirs.filter { d =>
        buckets.forall(_.contains(d.getName.stripPrefix("__bucket=").toLong))
      }
    selected.flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted
  }

  /** A store path that was never bootstrapped is an unavailable backing
    * service, not a bad request — same taxonomy mapping as
    * [[graft.operators.MemoryOps.openStore]] (reference src/error.rs:41,139). */
  def firstFile(root: String): String =
    listFiles(root, None).headOption.getOrElse(
      throw new graft.UnavailableException(
        s"memory store at '$root' is not bootstrapped (no parquet files)"))

  /** One Hadoop `Configuration` per JVM: each `new Configuration()`
    * parses the default resources again (milliseconds apiece), which a
    * scan used to pay per task and per footer. Footer reads share it as
    * is; a record reader copies it (see [[StoreRowReader]]). */
  private[sources] lazy val sharedConf: Configuration = {
    val c = new Configuration()
    c.size() // load the default resources now, once
    c
  }

  private[sources] def openFooter(file: String): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), sharedConf))

  def inferSchema(file: String): StructType = {
    val reader = openFooter(file)
    try toSpark(reader.getFooter.getFileMetaData.getSchema)
    finally reader.close()
  }

  private[sources] def toSpark(m: MessageType): StructType = {
    import scala.jdk.CollectionConverters._
    StructType(m.getFields.asScala.toSeq.map(f =>
      StructField(f.getName, toSparkType(f), f.getRepetition != PType.Repetition.REQUIRED)))
  }

  private def toSparkType(f: PType): DataType = f match {
    case p: PrimitiveType => p.getPrimitiveTypeName match {
      case PrimitiveType.PrimitiveTypeName.INT64 => LongType
      case PrimitiveType.PrimitiveTypeName.INT32 => IntegerType
      case PrimitiveType.PrimitiveTypeName.DOUBLE => DoubleType
      case PrimitiveType.PrimitiveTypeName.FLOAT => FloatType
      case PrimitiveType.PrimitiveTypeName.BOOLEAN => BooleanType
      case PrimitiveType.PrimitiveTypeName.BINARY
        if p.getLogicalTypeAnnotation == LogicalTypeAnnotation.stringType() => StringType
      case PrimitiveType.PrimitiveTypeName.BINARY => BinaryType
      case other => throw new UnsupportedOperationException(s"parquet type $other")
    }
    case g: GroupType if g.getLogicalTypeAnnotation == LogicalTypeAnnotation.listType() =>
      // Spark 3-level list: group (LIST) { repeated group list { <element> } }
      val elem = g.getType(0).asGroupType().getType(0)
      ArrayType(toSparkType(elem), containsNull = elem.getRepetition != PType.Repetition.REQUIRED)
    case other => throw new UnsupportedOperationException(s"parquet group $other")
  }

  /** Projection of the file schema to the requested columns PLUS any
    * column the pushed predicate references: parquet's record-level
    * filter evaluates against the ASSEMBLED record, so a filter column
    * missing from the read schema would silently compare as null and
    * drop every row (Spark prunes fully-claimed filter columns from the
    * required output, so they must be re-added here). Output rows still
    * carry only the required fields. */
  private[sources] def project(full: MessageType, required: Seq[String],
                               filterCols: Seq[String]): MessageType = {
    val names0 = (required ++ filterCols.filter(full.containsField)).distinct
    val names =
      if (names0.isEmpty) Seq(full.getFieldName(0)) // bare count(*): 1 col
      else names0
    new MessageType(full.getName,
      names.map(n => full.getType(full.getFieldIndex(n))): _*)
  }

  /** Exact parquet translation of a (supported) source filter. Strings
    * push equality/nullness only — parquet's unsigned byte order is not
    * Spark's string order for ranges; numerics push the full range set. */
  private[sources] def toPredicate(f: Filter, schema: StructType): Option[FilterPredicate] = {
    def dt(col: String): Option[DataType] =
      schema.fields.find(_.name == col).map(_.dataType)
    def eqP(col: String, v: Any): Option[FilterPredicate] = dt(col).flatMap {
      case LongType => Some(FilterApi.eq(FilterApi.longColumn(col),
        java.lang.Long.valueOf(v.asInstanceOf[Number].longValue())))
      case IntegerType => Some(FilterApi.eq(FilterApi.intColumn(col),
        java.lang.Integer.valueOf(v.asInstanceOf[Number].intValue())))
      case DoubleType => Some(FilterApi.eq(FilterApi.doubleColumn(col),
        java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue())))
      case FloatType => Some(FilterApi.eq(FilterApi.floatColumn(col),
        java.lang.Float.valueOf(v.asInstanceOf[Number].floatValue())))
      case StringType => Some(FilterApi.eq(FilterApi.binaryColumn(col),
        Binary.fromString(v.asInstanceOf[String])))
      case BooleanType => Some(FilterApi.eq(FilterApi.booleanColumn(col),
        java.lang.Boolean.valueOf(v.asInstanceOf[Boolean])))
      case _ => None
    }
    def cmp(col: String, v: Any,
            lng: (org.apache.parquet.filter2.predicate.Operators.LongColumn, java.lang.Long) => FilterPredicate,
            int: (org.apache.parquet.filter2.predicate.Operators.IntColumn, java.lang.Integer) => FilterPredicate,
            dbl: (org.apache.parquet.filter2.predicate.Operators.DoubleColumn, java.lang.Double) => FilterPredicate)
        : Option[FilterPredicate] = dt(col).flatMap {
      case LongType => Some(lng(FilterApi.longColumn(col),
        java.lang.Long.valueOf(v.asInstanceOf[Number].longValue())))
      case IntegerType => Some(int(FilterApi.intColumn(col),
        java.lang.Integer.valueOf(v.asInstanceOf[Number].intValue())))
      case DoubleType => Some(dbl(FilterApi.doubleColumn(col),
        java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue())))
      case _ => None
    }
    def notNull(col: String): Option[FilterPredicate] = dt(col).flatMap {
      case LongType => Some(FilterApi.notEq(FilterApi.longColumn(col), null: java.lang.Long))
      case IntegerType => Some(FilterApi.notEq(FilterApi.intColumn(col), null: java.lang.Integer))
      case DoubleType => Some(FilterApi.notEq(FilterApi.doubleColumn(col), null: java.lang.Double))
      case FloatType => Some(FilterApi.notEq(FilterApi.floatColumn(col), null: java.lang.Float))
      case StringType => Some(FilterApi.notEq(FilterApi.binaryColumn(col), null: Binary))
      case BooleanType => Some(FilterApi.notEq(FilterApi.booleanColumn(col), null: java.lang.Boolean))
      case _ => None
    }
    f match {
      case sources.EqualTo(c, v) if v != null => eqP(c, v)
      case sources.GreaterThan(c, v) =>
        cmp(c, v, FilterApi.gt(_, _), FilterApi.gt(_, _), FilterApi.gt(_, _))
      case sources.GreaterThanOrEqual(c, v) =>
        cmp(c, v, FilterApi.gtEq(_, _), FilterApi.gtEq(_, _), FilterApi.gtEq(_, _))
      case sources.LessThan(c, v) =>
        cmp(c, v, FilterApi.lt(_, _), FilterApi.lt(_, _), FilterApi.lt(_, _))
      case sources.LessThanOrEqual(c, v) =>
        cmp(c, v, FilterApi.ltEq(_, _), FilterApi.ltEq(_, _), FilterApi.ltEq(_, _))
      case sources.IsNotNull(c) => notNull(c)
      case sources.IsNull(c) => notNull(c).map(FilterApi.not)
      case sources.In(c, vs) if vs.nonEmpty && vs.forall(_ != null) =>
        val parts = vs.toSeq.map(v => eqP(c, v))
        if (parts.forall(_.isDefined)) parts.flatten.reduceOption(FilterApi.or) else None
      case sources.And(l, r) =>
        for (lp <- toPredicate(l, schema); rp <- toPredicate(r, schema))
          yield FilterApi.and(lp, rp)
      case sources.Or(l, r) =>
        for (lp <- toPredicate(l, schema); rp <- toPredicate(r, schema))
          yield FilterApi.or(lp, rp)
      case _ => None
    }
  }

  /** Bucket ids a filter restricts the id column to — the writer's
    * bucket rule evaluated driver-side by
    * [[graft.operators.MemoryOps.idBucketer]] on the id column's actual
    * DataType (hashing an int id's long value would select a DIFFERENT
    * bucket than the writer did and silently return no rows). Ids of
    * type long, int and string prune; other types prune nothing. */
  private[sources] def bucketsFor(f: Filter, idCol: String, idType: DataType,
                                  n: Int): Option[Set[Long]] = {
    lazy val bucketer = graft.operators.MemoryOps.idBucketer(idType, idType,
      n, SQLConf.get.sessionLocalTimeZone)
    def bucketOf(v: Any): Option[Long] = ((idType, v) match {
      case (LongType, x: Number) => Some(x.longValue())
      case (IntegerType, x: Number) => Some(x.intValue())
      case (StringType, s: String) => Some(s)
      case _ => None
    }).map(bucketer)
    f match {
      case sources.EqualTo(c, v) if c == idCol && v != null =>
        bucketOf(v).map(Set(_))
      case sources.In(c, vs) if c == idCol && vs.nonEmpty && vs.forall(_ != null) =>
        val bs = vs.toSeq.map(bucketOf)
        if (bs.forall(_.isDefined)) Some(bs.flatten.toSet) else None
      case sources.And(l, r) =>
        (bucketsFor(l, idCol, idType, n), bucketsFor(r, idCol, idType, n)) match {
          case (Some(a), Some(b)) => Some(a intersect b)
          case (a, b) => a.orElse(b)
        }
      case sources.Or(l, r) =>
        for (a <- bucketsFor(l, idCol, idType, n);
             b <- bucketsFor(r, idCol, idType, n)) yield a union b
      case _ => None
    }
  }

  /** Upper bound on a pushed top-N: the per-partition heap holds N rows
    * in reader memory, so an unbounded N would turn the pushdown into an
    * unbounded buffer. Past the bound Spark keeps its own
    * TakeOrderedAndProject over the plain scan. */
  private[sources] val TopNMax = 65536

  /** Max parquet footers [[MemoryScan.estimateStatistics]] opens:
    * ≤ this many files → exact row counts; more → a sampled
    * rows-per-byte density scaled by total file size. Bounds the
    * DRIVER-side planning cost at any store size. */
  private[sources] val StatsFooterSample = 64

  /** One pushed aggregate call: `fn` in {count, min, max}; `column` is
    * empty for COUNT(*); `dataType` is the PARTIAL result type Spark
    * merges (LongType for count, the column type for min/max). */
  private[sources] case class AggSpec(
      fn: String, column: Option[String], dataType: DataType)

  /** One pushed sort key: column, type, and OUTPUT-order semantics
    * (descending + where nulls land, as Spark's SortOrder states them). */
  private[sources] case class SortSpec(
      name: String, dataType: DataType, desc: Boolean, nullsFirst: Boolean)

  private[sources] def orderable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | BooleanType |
         StringType => true
    case _ => false
  }

  /** Output-order comparison of two sort-key values under a spec. */
  private[sources] def compareKey(a: Any, b: Any, s: SortSpec): Int = {
    if (a == null && b == null) 0
    else if (a == null) { if (s.nullsFirst) -1 else 1 }
    else if (b == null) { if (s.nullsFirst) 1 else -1 }
    else {
      val c = s.dataType match {
        case LongType => java.lang.Long.compare(
          a.asInstanceOf[Long], b.asInstanceOf[Long])
        case IntegerType => Integer.compare(
          a.asInstanceOf[Int], b.asInstanceOf[Int])
        case DoubleType => java.lang.Double.compare(
          a.asInstanceOf[Double], b.asInstanceOf[Double])
        case FloatType => java.lang.Float.compare(
          a.asInstanceOf[Float], b.asInstanceOf[Float])
        case BooleanType => java.lang.Boolean.compare(
          a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
        case StringType => a.asInstanceOf[UTF8String]
          .compareTo(b.asInstanceOf[UTF8String])
        case other => throw new UnsupportedOperationException(s"sort on $other")
      }
      if (s.desc) -c else c
    }
  }
}

private[sources] class MemoryBucketTable(
    path: String, tableSchema: StructType,
    nBuckets: Option[Int], idCol: String,
    score: Option[MemoryBucketSource.ScoreSpec]) extends Table with SupportsRead {
  override def name(): String = s"graft_memory($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MemoryScanBuilder(path, tableSchema, nBuckets, idCol, score)
}

private[sources] class MemoryScanBuilder(
    path: String, tableSchema: StructType,
    nBuckets: Option[Int], idCol: String,
    score: Option[MemoryBucketSource.ScoreSpec])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownLimit with SupportsPushDownRequiredColumns
    with SupportsPushDownTopN with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var predicate: Option[FilterPredicate] = None
  private var scorePreds: Seq[MemoryBucketSource.ScorePred] = Seq.empty
  private var buckets: Option[Set[Long]] = None
  private var limit: Option[Int] = None
  private var topN: Option[(Seq[MemoryBucketSource.SortSpec], Int)] = None
  private var agg: Option[Seq[MemoryBucketSource.AggSpec]] = None
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // score-column predicates first: the computed column exists in the
    // TABLE schema (so toPredicate would happily build a parquet
    // predicate for it) but not in the FILES — they must be evaluated
    // against the reader's computed score, never shipped to parquet.
    // Any other filter shape touching the score column stays post-scan.
    val scoreOut = score.map(_.output)
    val withScore = filters.map(f =>
      f -> scoreOut.flatMap(MemoryBucketSource.scorePredOf(f, _)))
    scorePreds = withScore.flatMap(_._2).toSeq
    val plain = withScore.collect { case (f, None) => f }
    val (ok, rest) = plain.partition(f =>
      !scoreOut.exists(f.references.contains) &&
        MemoryBucketSource.toPredicate(f, tableSchema).isDefined)
    pushed = ok ++ withScore.collect { case (f, Some(_)) => f }
    predicate = ok.flatMap(MemoryBucketSource.toPredicate(_, tableSchema))
      .reduceOption(FilterApi.and)
    val idType = tableSchema.fields.find(_.name == idCol).map(_.dataType)
    buckets = for {
      n <- nBuckets
      t <- idType
      sets = ok.flatMap(MemoryBucketSource.bucketsFor(_, idCol, t, n))
      merged <- sets.reduceOption(_ intersect _)
    } yield merged
    rest // post-scan filters; accepted ones are evaluated exactly store-side
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(l: Int): Boolean = {
    limit = Some(l)
    false // partial: per-partition cut-off, Spark keeps the global limit
  }

  /** The reference's Qdrant scan evaluates the scored top-k ITSELF
    * (score threshold + limit, src/vector_store.rs:277-293); the engine
    * analog accepts `ORDER BY <stored columns> LIMIT k` and answers it
    * with a per-partition bounded heap inside the reader. PARTIAL
    * pushdown: each partition returns its local top-N, Spark's
    * TakeOrderedAndProject keeps the global cut — so every sort key must
    * be a plain stored column of an orderable type, or the whole top-N
    * is declined and the plain scan stands. */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    val specs = orders.toSeq.map { o =>
      o.expression() match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          val name = nr.fieldNames()(0)
          tableSchema.fields.find(_.name == name).collect {
            case f if MemoryBucketSource.orderable(f.dataType) =>
              MemoryBucketSource.SortSpec(name, f.dataType,
                desc = o.direction() == SortDirection.DESCENDING,
                nullsFirst = o.nullOrdering() == NullOrdering.NULLS_FIRST)
          }
        case _ => None
      }
    }
    if (n <= 0 || n > MemoryBucketSource.TopNMax ||
        specs.isEmpty || specs.exists(_.isEmpty)) false
    else {
      topN = Some((specs.flatten, n))
      true
    }
  }
  override def isPartiallyPushed(): Boolean = true

  /** PARTIAL aggregate pushdown (the reference's store answers
    * `count`-style introspection itself — collection point counts,
    * src/vector_store.rs:300-310): global COUNT(*) / MIN / MAX over
    * stored orderable columns collapse to ONE row per bucket file
    * inside the reader — the pushed filters still run in parquet first —
    * and Spark's final aggregate merges the per-partition partials
    * (supportCompletePushDown stays false). Anything else — grouping,
    * other functions, min/max of the computed score or an unorderable
    * column, or an agg stacked on a pushed limit/top-N — is declined
    * and the plain scan stands. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (aggregation.groupByExpressions().nonEmpty ||
        topN.isDefined || limit.isDefined) return false
    val scoreOut = score.map(_.output)
    def colName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    def fieldFor(n: String): Option[StructField] =
      tableSchema.fields.find(_.name == n)
        .filter(f => MemoryBucketSource.orderable(f.dataType) &&
          !scoreOut.contains(n))
    val specs = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar =>
        Some(MemoryBucketSource.AggSpec("count", None, LongType))
      case m: Min => colName(m.column()).flatMap(fieldFor)
        .map(f => MemoryBucketSource.AggSpec("min", Some(f.name), f.dataType))
      case m: Max => colName(m.column()).flatMap(fieldFor)
        .map(f => MemoryBucketSource.AggSpec("max", Some(f.name), f.dataType))
      case _ => None
    }
    if (specs.isEmpty || specs.exists(_.isEmpty)) false
    else {
      val flat = specs.flatten
      agg = Some(flat)
      // positional contract: Spark matches partial-agg output by order
      required = StructType(flat.zipWithIndex.map { case (s, i) =>
        StructField(s"__agg_$i", s.dataType, nullable = s.fn != "count")
      })
      true
    }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (agg.isEmpty) required = requiredSchema

  override def build(): Scan =
    new MemoryScan(path, required, predicate, buckets, limit, topN, pushed,
      score, scorePreds, agg, idCol,
      tableSchema.fields.find(_.name == idCol).map(_.dataType), nBuckets)
}

private[sources] case class FileInputPartition(file: String) extends InputPartition

private[sources] class MemoryScan(
    path: String, required: StructType,
    predicate: Option[FilterPredicate], buckets: Option[Set[Long]],
    limit: Option[Int],
    topN: Option[(Seq[MemoryBucketSource.SortSpec], Int)],
    pushed: Array[Filter],
    score: Option[MemoryBucketSource.ScoreSpec],
    scorePreds: Seq[MemoryBucketSource.ScorePred],
    agg: Option[Seq[MemoryBucketSource.AggSpec]],
    idCol: String, idType: Option[DataType], nBuckets: Option[Int])
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private lazy val files = MemoryBucketSource.listFiles(path, buckets)

  /** RUNTIME bucket pruning — the dynamic-partition-pruning analog for
    * the bucketed store layout. When the store sits on the probe side of
    * a broadcast join on its id column, Spark hands the BUILT side's id
    * set back to the scan at execution time; the writer's bucket rule
    * turns those ids into a bucket set, and whole bucket directories
    * drop out of the scan BEFORE any file opens. At warehouse scale
    * this is the difference between "fetch the 50 memories this batch
    * references" touching 2 of 4096 buckets and touching all of them. Plan-time pruning ([[MemoryScanBuilder]]'s
    * bucketsFor over pushed filters) and runtime pruning compose by
    * intersection; an unbucketed layout or an id type outside the
    * pruned set (long, int, string) reports no filterable attributes
    * and is left alone. */
  private var runtimeBuckets: Option[Set[Long]] = buckets

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (nBuckets.isDefined && idType.exists {
          case LongType | IntegerType | StringType => true
          case _ => false
        })
      Array(org.apache.spark.sql.connector.expressions.Expressions.column(idCol))
    else Array.empty

  override def filter(filters: Array[Filter]): Unit =
    for (n <- nBuckets; t <- idType) {
      val sets = filters.flatMap(MemoryBucketSource.bucketsFor(_, idCol, t, n))
      sets.reduceOption(_ intersect _).foreach { s =>
        runtimeBuckets = Some(runtimeBuckets.fold(s)(_ intersect s))
      }
    }

  /** Store-reported statistics AFTER pushdown — the planning half of the
    * reference's collection introspection (the store knows its own point
    * count, src/vector_store.rs:300-310). Without this a DSv2 relation
    * costs `defaultSizeInBytes` (effectively infinite), so a join against
    * the store can NEVER plan as a broadcast join no matter how hard the
    * pushed filters shrink it — at warehouse scale that is a full shuffle
    * of the fact side against a slice the store already knows is tiny.
    *
    * Row count comes from the parquet footers of the SELECTED files
    * (bucket pruning already applied) — exact up to
    * [[MemoryBucketSource.StatsFooterSample]] files, a sampled
    * rows-per-byte density scaled by total size beyond that (driver-side
    * planning IO must stay bounded at any store size) — and is an upper
    * bound under a pushed parquet predicate or score threshold:
    * estimates must err toward "too big", never toward broadcasting
    * something huge. A pushed
    * limit/top-N caps rows at n per file (partial pushdown: each file
    * returns at most n). A pushed aggregate collapses to one partial row
    * per file. Size scales the compressed file bytes by the column
    * fraction (the pruned read schema) and the row cap — the same
    * convention as Spark's own FileScan sizing. */
  private lazy val estimated: (Long, Long) = {
    if (files.isEmpty) (0L, 0L)
    else agg match {
      case Some(specs) =>
        (files.size.toLong, files.size.toLong * (8L + 16L * specs.size))
      case None =>
        // Footer IO is DRIVER-side planning cost, so it must stay bounded
        // no matter how many files the store holds (the first soak of
        // this path opened all 5,120 footers sequentially and spent 75 s
        // PLANNING a 2 s scan). Up to StatsFooterSample footers — evenly
        // spread — give exact counts for small stores and a measured
        // rows-per-byte density for big ones; everything else scales by
        // file SIZE, which the directory listing already paid for.
        val sizes = files.map(f => new java.io.File(f).length())
        val bytes = sizes.sum
        val k = MemoryBucketSource.StatsFooterSample
        // evenly spaced over the WHOLE list using the FULL k-footer
        // budget: i*len/k for i < k yields exactly k distinct, strictly
        // increasing indices spanning [0, len). (A floor STRIDE of len/k
        // is 1 whenever k < len < 2k — sampling only the first k files
        // and biasing density toward whichever buckets list first; a
        // ceil stride spans the list but reads as few as half the
        // budgeted footers, doubling estimator variance right where the
        // estimate decides broadcast-vs-shuffle.)
        val sampleIdx =
          if (files.length <= k) files.indices
          else (0 until k).map(i => (i.toLong * files.length / k).toInt)
        var sRows = 0L
        var sBytes = 0L
        sampleIdx.foreach { i =>
          val r = MemoryBucketSource.openFooter(files(i))
          try sRows += r.getRecordCount finally r.close()
          sBytes += sizes(i)
        }
        val rows =
          if (files.length <= k) sRows
          else if (sBytes == 0L) 0L
          else math.round(bytes.toDouble * sRows / sBytes)
        val fileCols = math.max(1,
          MemoryBucketSource.inferSchema(files.head).fields.length)
        // n is bounded (TopNMax / a user limit) and files is a directory
        // listing — the product stays far from Long overflow
        val cap = topN.map(_._2.toLong).orElse(limit.map(_.toLong))
        val capped = cap.fold(rows)(n => math.min(rows, n * files.size))
        val colFrac = math.min(1.0,
          required.fields.length.toDouble / fileCols)
        val rowFrac = if (rows == 0L) 0.0 else capped.toDouble / rows
        (capped, math.max(1L, (bytes * colFrac * rowFrac).toLong))
    }
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def numRows(): OptionalLong = OptionalLong.of(estimated._1)
    override def sizeInBytes(): OptionalLong = OptionalLong.of(estimated._2)
  }
  override def description(): String = {
    val b = buckets.fold("all")(s => s.toSeq.sorted.mkString("{", ",", "}"))
    val t = topN.fold("none") { case (specs, n) =>
      specs.map(s => s"${s.name} ${if (s.desc) "DESC" else "ASC"}")
        .mkString("ORDER BY [", ", ", s"] LIMIT $n")
    }
    val sc = score.fold("none")(sp =>
      s"${sp.metric}(${sp.column}, [${sp.vec.length}d]) AS ${sp.output}")
    val ag = agg.fold("none")(_.map(a =>
      s"${a.fn}(${a.column.getOrElse("*")})").mkString("[", ", ", "]"))
    s"GraftMemoryBucketScan path=$path, " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"PushedLimit: ${limit.getOrElse(-1)}, PushedTopN: $t, " +
      s"PushedScore: $sc, PushedAggregates: $ag, Buckets: $b"
  }
  override def planInputPartitions(): Array[InputPartition] =
    // re-listed (not the cached stats snapshot): a runtime filter may
    // have narrowed the bucket set since planning
    MemoryBucketSource.listFiles(path, runtimeBuckets)
      .map(FileInputPartition(_)).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new MemoryReaderFactory(required, predicate, limit, topN,
      pushed.flatMap(_.references).distinct.toSeq, score, scorePreds, agg)
}

private[sources] class MemoryReaderFactory(
    required: StructType, predicate: Option[FilterPredicate],
    limit: Option[Int],
    topN: Option[(Seq[MemoryBucketSource.SortSpec], Int)],
    filterCols: Seq[String],
    score: Option[MemoryBucketSource.ScoreSpec],
    scorePreds: Seq[MemoryBucketSource.ScorePred],
    agg: Option[Seq[MemoryBucketSource.AggSpec]]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val file = p.asInstanceOf[FileInputPartition].file
    agg match {
      case Some(specs) =>
        // inner reader scans the agg INPUT columns (plus filter/score
        // needs) through the same parquet predicate path; the wrapper
        // folds it to one partial row
        val inputs = specs.flatMap(a => a.column.map(c =>
          StructField(c, a.dataType)))
        val dedup = inputs.groupBy(_.name).map(_._2.head).toArray
        new AggPartialReader(specs,
          new StoreRowReader(file, StructType(dedup), predicate, None, None,
            filterCols, score, scorePreds))
      case None =>
        new StoreRowReader(file, required, predicate, limit, topN,
          filterCols, score, scorePreds)
    }
  }
}

/** Folds a partition's filtered rows into ONE partial-aggregate row
  * (count / min / max per [[MemoryBucketSource.AggSpec]]); Spark's final
  * aggregate merges the per-file partials. Nulls never win min/max
  * (Spark's semantics); an empty partition still emits its zero-count
  * row so COUNT(*) sums correctly. */
private[sources] class AggPartialReader(
    specs: Seq[MemoryBucketSource.AggSpec],
    inner: StoreRowReader) extends PartitionReader[InternalRow] {
  private val innerSchema = inner.requiredSchema
  private var done = false
  private var row: InternalRow = _

  private def fold(): InternalRow = {
    var count = 0L
    val acc = new Array[Any](specs.length)
    while (inner.next()) {
      val r = inner.get()
      count += 1
      var i = 0
      while (i < specs.length) {
        val s = specs(i)
        if (s.column.isDefined) {
          val idx = innerSchema.fieldIndex(s.column.get)
          val v = if (r.isNullAt(idx)) null else r.get(idx, s.dataType)
          if (v != null) {
            val cmp = MemoryBucketSource.compareKey(acc(i), v,
              MemoryBucketSource.SortSpec(s.column.get, s.dataType,
                desc = false, nullsFirst = false))
            // nullsFirst=false puts null acc AFTER v (cmp > 0) → replace
            if (acc(i) == null ||
                (s.fn == "min" && cmp > 0) || (s.fn == "max" && cmp < 0))
              acc(i) = v
          }
        }
        i += 1
      }
    }
    val out = new GenericInternalRow(specs.length)
    var i = 0
    while (i < specs.length) {
      if (specs(i).fn == "count") out.update(i, count)
      else out.update(i, acc(i))
      i += 1
    }
    out
  }

  override def next(): Boolean = {
    if (done) return false
    row = fold()
    done = true
    true
  }
  override def get(): InternalRow = row
  override def close(): Unit = inner.close()
}

/** One projected top-level column of the record being decoded — reused
  * for every record of the file. Scalars land in `long` (INT32, INT64,
  * BOOLEAN as 0/1), `double` (FLOAT promoted, DOUBLE) or `binary`; a
  * LIST column fills the value buffer matching its element type, with a
  * per-element null flag. `present` is false for a NULL column value. */
private[sources] final class ColumnSlot(val name: String,
    kind: PrimitiveType.PrimitiveTypeName, val isList: Boolean) {
  import PrimitiveType.PrimitiveTypeName._
  var present = false
  var long = 0L
  var double = 0.0
  var binary: Binary = _
  var size = 0
  var nullElems = 0
  var elemNull = new Array[Boolean](if (isList) 16 else 0)
  var doubles: Array[Double] =
    if (isList && (kind == FLOAT || kind == DOUBLE)) new Array[Double](16) else null
  var longs: Array[Long] =
    if (isList && (kind == INT32 || kind == INT64 || kind == BOOLEAN)) new Array[Long](16)
    else null
  var binaries: Array[Binary] =
    if (isList && kind == BINARY) new Array[Binary](16) else null

  def startList(): Unit = { present = true; size = 0; nullElems = 0 }

  /** A new list element, NULL until its value arrives. */
  def addElement(): Unit = {
    if (size == elemNull.length) {
      val cap = size * 2
      elemNull = java.util.Arrays.copyOf(elemNull, cap)
      if (doubles != null) doubles = java.util.Arrays.copyOf(doubles, cap)
      if (longs != null) longs = java.util.Arrays.copyOf(longs, cap)
      if (binaries != null) binaries = java.util.Arrays.copyOf(binaries, cap)
    }
    elemNull(size) = true
    nullElems += 1
    size += 1
  }

  private def setElement(): Int = {
    val i = size - 1
    elemNull(i) = false
    nullElems -= 1
    i
  }
  def putLong(v: Long): Unit =
    if (isList) longs(setElement()) = v else { long = v; present = true }
  def putDouble(v: Double): Unit =
    if (isList) doubles(setElement()) = v else { double = v; present = true }
  def putBinary(v: Binary): Unit =
    if (isList) binaries(setElement()) = v else { binary = v; present = true }
}

private[sources] final class SlotConverter(slot: ColumnSlot) extends PrimitiveConverter {
  override def addInt(v: Int): Unit = slot.putLong(v)
  override def addLong(v: Long): Unit = slot.putLong(v)
  override def addBoolean(v: Boolean): Unit = slot.putLong(if (v) 1L else 0L)
  override def addFloat(v: Float): Unit = slot.putDouble(v.toDouble)
  override def addDouble(v: Double): Unit = slot.putDouble(v)
  override def addBinary(v: Binary): Unit = slot.putBinary(v)
}

/** Spark's 3-level list: group (LIST) { repeated group list { element } }. */
private[sources] final class ListConverter(slot: ColumnSlot) extends GroupConverter {
  private val element = new GroupConverter {
    private val value = new SlotConverter(slot)
    override def getConverter(i: Int): Converter = value
    override def start(): Unit = slot.addElement()
    override def end(): Unit = ()
  }
  override def getConverter(i: Int): Converter = element
  override def start(): Unit = slot.startList()
  override def end(): Unit = ()
}

/** Decodes each record into the same reused slots, one [[ColumnSlot]]
  * per projected column in the projection's field order — no
  * per-record object graph. */
private[sources] final class SlotMaterializer(schema: MessageType)
    extends RecordMaterializer[Array[ColumnSlot]] {
  import scala.jdk.CollectionConverters._
  private val slots: Array[ColumnSlot] = schema.getFields.asScala.map {
    case p: PrimitiveType =>
      new ColumnSlot(p.getName, p.getPrimitiveTypeName, isList = false)
    case g: GroupType =>
      val elem = g.getType(0).asGroupType().getType(0)
      if (!elem.isPrimitive)
        throw new UnsupportedOperationException(s"parquet group $g")
      new ColumnSlot(g.getName, elem.asPrimitiveType().getPrimitiveTypeName, isList = true)
  }.toArray
  private val root = new GroupConverter {
    private val children: Array[Converter] = slots.map(s =>
      if (s.isList) new ListConverter(s) else new SlotConverter(s))
    override def getConverter(i: Int): Converter = children(i)
    override def start(): Unit = {
      var i = 0
      while (i < slots.length) { slots(i).present = false; i += 1 }
    }
    override def end(): Unit = ()
  }
  override def getCurrentRecord: Array[ColumnSlot] = slots
  override def getRootConverter: GroupConverter = root
}

/** Projects the footer's schema at read init ([[MemoryBucketSource.project]])
  * — the footer the reader opens anyway, so the projection costs no
  * second open. */
private[sources] final class SlotReadSupport(required: Seq[String], extra: Seq[String])
    extends ReadSupport[Array[ColumnSlot]] {
  override def init(ctx: InitContext): ReadSupport.ReadContext =
    new ReadSupport.ReadContext(
      MemoryBucketSource.project(ctx.getFileSchema, required, extra))
  override def prepareForRead(conf: ParquetConfiguration,
      meta: java.util.Map[String, String], fileSchema: MessageType,
      ctx: ReadSupport.ReadContext): RecordMaterializer[Array[ColumnSlot]] =
    new SlotMaterializer(ctx.getRequestedSchema)
  override def prepareForRead(conf: Configuration,
      meta: java.util.Map[String, String], fileSchema: MessageType,
      ctx: ReadSupport.ReadContext): RecordMaterializer[Array[ColumnSlot]] =
    new SlotMaterializer(ctx.getRequestedSchema)
}

/** The `(InputFile, ParquetConfiguration)` builder: the path-based
  * builder constructs a fresh Hadoop `Configuration` of its own. */
private[sources] final class SlotReaderBuilder(file: InputFile,
    conf: ParquetConfiguration, support: ReadSupport[Array[ColumnSlot]])
    extends ParquetReader.Builder[Array[ColumnSlot]](file, conf) {
  override protected def getReadSupport(): ReadSupport[Array[ColumnSlot]] = support
}

/** Row-by-row parquet reader of one bucket file. The pushed predicate
  * runs INSIDE parquet (row-group pruning + record skipping), the
  * projection narrows the read schema, the limit stops the partition
  * early, and a pushed top-N is answered from a BOUNDED heap (worst row
  * on top, O(log n) eviction) so the partition returns its local top-N
  * rows in order without ever buffering more than n.
  *
  * Records decode into reused slots ([[SlotMaterializer]]); the scorer
  * reads the embedding's value buffer in place, and an output row is
  * built only for a row that is emitted or that the top-N heap admits.
  * NULL rule of the scorer: a NULL embedding, a dimension mismatch or a
  * NULL element scores NULL (as [[graft.functions.Similarity.score]]
  * does), and cosine is also NULL at zero magnitude. */
private[sources] class StoreRowReader(
    file: String, required: StructType,
    predicate: Option[FilterPredicate], limit: Option[Int],
    topN: Option[(Seq[MemoryBucketSource.SortSpec], Int)],
    filterCols: Seq[String],
    score: Option[MemoryBucketSource.ScoreSpec],
    scorePreds: Seq[MemoryBucketSource.ScorePred])
    extends PartitionReader[InternalRow] {

  /** Output schema, for the aggregate wrapper's field lookups. */
  private[sources] def requiredSchema: StructType = required

  private def isScoreCol(name: String): Boolean = score.exists(_.output == name)

  private val reader: ParquetReader[Array[ColumnSlot]] = {
    // the computed score column never reaches parquet; the embedding
    // column it is computed FROM must, even when pruned from the output
    val support = new SlotReadSupport(
      required.fields.toSeq.map(_.name).filterNot(isScoreCol),
      filterCols.filterNot(isScoreCol) ++
        topN.toSeq.flatMap(_._1.map(_.name)).filterNot(isScoreCol) ++
        score.map(_.column).toSeq)
    // parquet writes its read options back into the conf it is handed,
    // so each reader gets its own copy of the shared one
    val conf = new Configuration(MemoryBucketSource.sharedConf)
    val b: ParquetReader.Builder[Array[ColumnSlot]] = new SlotReaderBuilder(
      HadoopInputFile.fromPath(new Path(file), conf),
      new HadoopParquetConfiguration(conf), support)
    predicate.fold(b)(p => b.withFilter(FilterCompat.get(p))).build()
  }
  // slot index per output field / sort key (-1 = the computed score),
  // resolved against the first record's projection
  private var outSlots: Array[Int] = _
  private var keySlots: Array[Int] = _
  private var scoreSlot = -1
  private var current: Array[ColumnSlot] = _ // the decoded record
  private var currentScore: java.lang.Double = _
  private var served = 0
  private var topRows: Iterator[InternalRow] = _

  private def resolve(r: Array[ColumnSlot]): Unit = {
    def slotOf(name: String): Int = if (isScoreCol(name)) -1 else r.indexWhere(_.name == name)
    outSlots = required.fields.map(f => slotOf(f.name))
    keySlots = topN.fold(Array.empty[Int])(_._1.map(s => slotOf(s.name)).toArray)
    scoreSlot = score.fold(-1)(sp => r.indexWhere(_.name == sp.column))
  }

  private def scoreOf(s: ColumnSlot, sp: MemoryBucketSource.ScoreSpec): java.lang.Double =
    if (!s.present || s.nullElems > 0) null
    else if (s.doubles == null)
      throw new UnsupportedOperationException(
        s"score column ${s.name} must be ARRAY<FLOAT|DOUBLE>")
    else MemoryBucketSource.computeScore(s.doubles, s.size, sp.vec, sp.metric)

  /** Advance to the next row that passes every accepted score predicate,
    * computing the score once per surviving row. */
  private def readFiltered(): Boolean = {
    var r = reader.read()
    while (r != null) {
      if (outSlots == null) resolve(r)
      val sc: java.lang.Double = score match {
        case Some(sp) => scoreOf(r(scoreSlot), sp)
        case None => null
      }
      if (scorePreds.forall(_.accepts(sc))) {
        current = r; currentScore = sc; return true
      }
      r = reader.read()
    }
    current = null; false
  }

  private def keyOf(i: Int, s: MemoryBucketSource.SortSpec): Any = {
    val si = keySlots(i)
    if (si < 0) currentScore
    else if (current(si).present) valueOf(current(si), s.dataType)
    else null
  }

  private def drainTopN(specs: Seq[MemoryBucketSource.SortSpec],
                        n: Int): Iterator[InternalRow] = {
    val spec = specs.toArray
    val keyOrder = new java.util.Comparator[Array[Any]] {
      override def compare(a: Array[Any], b: Array[Any]): Int = {
        var i = 0
        while (i < spec.length) {
          val c = MemoryBucketSource.compareKey(a(i), b(i), spec(i))
          if (c != 0) return c
          i += 1
        }
        0
      }
    }
    val heap = new java.util.PriorityQueue[(Array[Any], InternalRow)](
      math.max(1, n), (a, b) => keyOrder.compare(b._1, a._1))
    val keys = new Array[Any](spec.length)
    while (readFiltered()) {
      var i = 0
      while (i < spec.length) { keys(i) = keyOf(i, spec(i)); i += 1 }
      // a row worse than the current worst would be evicted at once, so
      // it gets no output row; a tie evicts the old worst, as add-then-poll did
      if (heap.size() < n || keyOrder.compare(keys, heap.peek()._1) <= 0) {
        heap.add((keys.clone(), toRow()))
        if (heap.size() > n) heap.poll() // evict the current worst
      }
    }
    val kept = new Array[(Array[Any], InternalRow)](heap.size())
    var i = kept.length - 1
    while (i >= 0) { kept(i) = heap.poll(); i -= 1 } // worst-first drain
    kept.iterator.map(_._2)
  }

  override def next(): Boolean = topN match {
    case Some((specs, n)) =>
      if (topRows == null) topRows = drainTopN(specs, n)
      topRows.hasNext
    case None =>
      if (limit.exists(served >= _)) return false
      readFiltered()
  }

  override def get(): InternalRow = topN match {
    case Some(_) => topRows.next()
    case None =>
      served += 1
      toRow()
  }

  private def toRow(): InternalRow = {
    val row = new GenericInternalRow(required.length)
    var i = 0
    while (i < required.length) {
      val si = outSlots(i)
      row.update(i,
        if (si < 0) currentScore
        else if (current(si).present) valueOf(current(si), required.fields(i).dataType)
        else null)
      i += 1
    }
    row
  }

  private def valueOf(s: ColumnSlot, dt: DataType): Any = dt match {
    case LongType => s.long
    case IntegerType => s.long.toInt
    case DoubleType => s.double
    case FloatType => s.double.toFloat
    case BooleanType => s.long != 0L
    case StringType => UTF8String.fromBytes(s.binary.getBytes)
    case BinaryType => s.binary.getBytes
    case ArrayType(et, _) =>
      val out = new Array[Any](s.size)
      var j = 0
      while (j < s.size) {
        out(j) =
          if (s.elemNull(j)) null
          else et match {
            case FloatType => s.doubles(j).toFloat
            case DoubleType => s.doubles(j)
            case LongType => s.longs(j)
            case IntegerType => s.longs(j).toInt
            case StringType => UTF8String.fromBytes(s.binaries(j).getBytes)
            case other => throw new UnsupportedOperationException(s"list of $other")
          }
        j += 1
      }
      new GenericArrayData(out)
    case other => throw new UnsupportedOperationException(s"type $other")
  }

  override def close(): Unit = reader.close()
}
