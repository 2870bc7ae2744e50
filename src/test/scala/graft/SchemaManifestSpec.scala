package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.VersionedTable

/** The per-version `_SCHEMA` manifest machinery (round 15): the
  * bucketed upsert lanes read their predecessors under a DRIVER-SIDE
  * union of per-version manifests instead of parquet mergeSchema's
  * distributed footer job. These pins hold the replacement to the
  * exact semantics the footer merge provided for the engine's
  * add-only drift contract. */
class SchemaManifestSpec extends SparkSpec {

  private def tmpDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft_schema_spec").toFile
    d.deleteOnExit()
    d
  }

  private val era1 = StructType(Seq(
    StructField("user_id", LongType),
    StructField("value", DoubleType)))
  private val era2 = StructType(Seq(
    StructField("user_id", LongType),
    StructField("value", DoubleType),
    StructField("etype", StringType)))

  test("manifest round-trips nullable-normalized through _SCHEMA") {
    val d = tmpDir()
    val nonNullable = StructType(Seq(
      StructField("user_id", LongType, nullable = false),
      StructField("value", DoubleType, nullable = true)))
    VersionedTable.writeSchemaManifest(d, nonNullable)
    assert(new java.io.File(d, "_SCHEMA").isFile)
    val back = VersionedTable.versionSchema(spark, d.getPath)
    // parquet footers report optional fields; the manifest must read
    // back exactly as the mergeSchema inference did
    assert(back.fields.forall(_.nullable))
    assert(back.fieldNames.toSeq == Seq("user_id", "value"))
  }

  test("union is add-only, first-seen field order (the e22 drift shape)") {
    val (d1, d2) = (tmpDir(), tmpDir())
    VersionedTable.writeSchemaManifest(d1, era1)
    VersionedTable.writeSchemaManifest(d2, era2)
    val merged = VersionedTable.mergedVersionSchema(spark,
      Seq(d1.getPath, d2.getPath))
    assert(merged.fieldNames.toSeq == Seq("user_id", "value", "etype"))
    // order of paths must not change the FIELD SET (order may differ)
    val merged2 = VersionedTable.mergedVersionSchema(spark,
      Seq(d2.getPath, d1.getPath))
    assert(merged2.fieldNames.toSet == merged.fieldNames.toSet)
  }

  test("version dirs merge in committed-version order, whatever the listing order") {
    val root = tmpDir()
    def versionDir(bucket: Int, version: Int, schema: StructType): String = {
      val d = new java.io.File(root, s"b$bucket/v$version")
      VersionedTable.writeSchemaManifest(d, schema)
      d.getPath
    }
    // a non-prefix drift: v3 adds etype, v5 adds score
    val era3 = StructType(Seq(StructField("user_id", LongType),
      StructField("etype", StringType)))
    val era5 = StructType(Seq(StructField("user_id", LongType),
      StructField("score", DoubleType)))
    val paths = Seq(versionDir(2, 5, era5), versionDir(10, 3, era3),
      versionDir(1, 1, era1))
    val want = Seq("user_id", "value", "etype", "score")
    for (order <- paths.permutations)
      assert(VersionedTable.mergedVersionSchema(spark, order).fieldNames.toSeq == want)
  }

  test("a type change across versions fails loudly (drift is add-only)") {
    val (d1, d2) = (tmpDir(), tmpDir())
    VersionedTable.writeSchemaManifest(d1, era1)
    VersionedTable.writeSchemaManifest(d2, StructType(Seq(
      StructField("user_id", LongType),
      StructField("value", StringType)))) // value changed type
    val e = intercept[IllegalArgumentException] {
      VersionedTable.mergedVersionSchema(spark, Seq(d1.getPath, d2.getPath))
    }
    assert(e.getMessage.contains("value"))
  }

  test("a pre-manifest version dir falls back to footer inference") {
    val d = tmpDir()
    import spark.implicits._
    Seq((1L, 2.0)).toDF("user_id", "value")
      .coalesce(1).write.mode("overwrite").parquet(d.getPath)
    // no _SCHEMA written — the fallback reads one footer driver-side
    assert(!new java.io.File(d, "_SCHEMA").isFile)
    val s = VersionedTable.versionSchema(spark, d.getPath)
    assert(s.fieldNames.toSeq == Seq("user_id", "value"))
    // and the union with a manifested era-2 dir still widens
    val d2 = tmpDir()
    VersionedTable.writeSchemaManifest(d2, era2)
    val merged = VersionedTable.mergedVersionSchema(spark,
      Seq(d.getPath, d2.getPath))
    assert(merged.fieldNames.toSeq == Seq("user_id", "value", "etype"))
  }
}
