package graft

import org.apache.spark.sql.functions._

import graft.core.TxTable

/** VARIANT columns stored in a TxTable: Spark 4's binary
  * semi-structured type rides the manifest-committed table end to
  * end (append / upsert / time travel), zone maps simply skip the
  * column, and the flat-relational exports refuse honestly. */
class VariantStoreSpec extends SparkSpec {
  import spark.implicits._

  private def mk(tag: String): (TxTable, String) = {
    val dir = tmpDir(tag) + "/t"
    val df = Seq(
      (1L, """{"a": 5, "tags": ["x","y"]}"""),
      (2L, """{"a": 7, "tags": []}"""),
      (3L, """{"b": 1}"""))
      .toDF("k", "j").withColumn("v", parse_json(col("j"))).drop("j")
    val t = new TxTable(spark, dir, df.schema, Seq("k"), numBuckets = 2)
    t.append(df)
    (t, dir)
  }

  test("variant round-trips: append, typed paths, missing keys null") {
    val (t, _) = mk("varstore")
    val back = t.read
      .select(col("k"), try_variant_get(col("v"), "$.a", "int").as("a"),
        try_variant_get(col("v"), "$.tags[0]", "string").as("t0"))
      .orderBy("k").collect()
    assert(back.map(r => (r.getLong(0),
      Option(r.get(1)), Option(r.get(2)))).toSeq === Seq(
      (1L, Some(5), Some("x")), (2L, Some(7), None), (3L, None, None)))
  }

  test("upsert rewrites variant rows; time travel serves the old bytes") {
    val (t, _) = mk("varstore-up")
    val v1 = t.currentVersion
    t.upsert(Seq((2L, """{"a": 9}""")).toDF("k", "j")
      .withColumn("v", parse_json(col("j"))).drop("j"))
    def sumA(df: org.apache.spark.sql.DataFrame): Long =
      df.select(sum(try_variant_get(col("v"), "$.a", "int")))
        .head.getLong(0)
    assert(sumA(t.read) === 14L)
    assert(sumA(t.readVersion(v1)) === 12L)
  }

  test("zone maps skip the variant column; key pruning still works") {
    val (t, _) = mk("varstore-zone")
    // a key-range scanWhere must still serve exact rows (the variant
    // column simply contributes no zone-map entry)
    assert(t.scanWhere(col("k") <= 2L).count() === 2L)
  }

  // The provider has one parquet reader, the columnar one; it decodes the
  // value/metadata group for every scan, row-consuming callers included.
  test("the DSv2 scan serves variant (row path decodes the value/metadata group)") {
    val (t, _) = mk("varstore-dsv2")
    val back = spark.read.format("graft").load(t.dir)
      .select(col("k"), try_variant_get(col("v"), "$.a", "int").as("a"))
      .orderBy("k").collect()
    assert(back.map(r => (r.getLong(0), Option(r.get(1)))).toSeq ===
      Seq((1L, Some(5)), (2L, Some(7)), (3L, None)))
    // and through SQL over the provider
    spark.read.format("graft").load(t.dir)
      .createOrReplaceTempView("graft_variant_dsv2")
    assert(spark.sql(
      "SELECT sum(try_variant_get(v, '$.a', 'int')) " +
        "FROM graft_variant_dsv2").head.getLong(0) === 12L)
  }

  test("iceberg v2 export refuses variant honestly (no v2 variant type)") {
    val (t, _) = mk("varstore-exp")
    val e = intercept[UnsupportedOperationException] {
      graft.core.IcebergExport.writeIcebergMetadata(spark, t)
    }
    assert(e.getMessage.contains("does not map"))
  }

  test("iceberg v3 export maps variant; import round-trips the bytes") {
    val (t, dir) = mk("varstore-ice3")
    graft.core.IcebergExport.writeIcebergMetadata(spark, t,
      formatVersion = 3)
    // the schema declares the v3 variant type
    val md = java.nio.file.Files.readString(
      java.nio.file.Path.of(dir, "metadata", "v1.metadata.json"))
    assert(md.contains("\"variant\""))
    assert(md.contains("\"format-version\" : 3") ||
      md.contains("\"format-version\":3"))
    val back = graft.core.IcebergImport.read(spark, dir)
      .select(col("k"), try_variant_get(col("v"), "$.a", "int").as("a"))
      .orderBy("k").collect()
    assert(back.map(r => (r.getLong(0), Option(r.get(1)))).toSeq ===
      Seq((1L, Some(5)), (2L, Some(7)), (3L, None)))
  }

  test("delta export declares the variantType feature; import round-trips") {
    val (t, dir) = mk("varstore-delta")
    graft.core.DeltaExport.writeDeltaLog(spark, t)
    // protocol: table-features mode with variantType in BOTH lists —
    // a stock reader that can't decode the binary must refuse, and a
    // delta>=3.2 reader accepts (the parquet layout is Spark 4's own
    // value/metadata binary struct, the published encoding)
    val c0 = java.nio.file.Files.readString(java.nio.file.Path.of(
      dir, "_delta_log", "0" * 20 + ".json"))
    val proto = c0.linesIterator.find(_.contains("\"protocol\"")).get
    assert(proto.contains("\"minReaderVersion\":3"))
    assert(proto.contains("variantType"))
    assert(proto.contains("readerFeatures") && proto.contains("writerFeatures"))
    // the schemaString carries the variant type name
    val meta = c0.linesIterator.find(_.contains("\"metaData\"")).get
    assert(meta.contains("variant"))
    // round-trip through our own importer: typed extraction over the
    // re-served bytes equals the source
    val back = graft.core.DeltaImport.read(spark, dir)
      .select(col("k"), try_variant_get(col("v"), "$.a", "int").as("a"))
      .orderBy("k").collect()
    assert(back.map(r => (r.getLong(0), Option(r.get(1)))).toSeq ===
      Seq((1L, Some(5)), (2L, Some(7)), (3L, None)))
  }

  test("a variant column arriving mid-life upgrades the synced log's protocol") {
    val dir = tmpDir("varstore-ev") + "/t"
    val df0 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val t = new TxTable(spark, dir, df0.schema, Seq("k"), numBuckets = 1)
    t.append(df0)
    graft.core.DeltaExport.writeDeltaLog(spark, t) // delta 0: no variant
    val c0 = java.nio.file.Files.readString(java.nio.file.Path.of(
      dir, "_delta_log", "0" * 20 + ".json"))
    assert(!c0.contains("variantType"))
    t.addColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.VariantType))))
    t.append(Seq((3L, "c", """{"a":1}""")).toDF("k", "s", "j")
      .withColumn("v", parse_json(col("j"))).drop("j"))
    graft.core.DeltaExport.syncDeltaLog(spark, t) // delta 1: upgraded
    val c1 = java.nio.file.Files.readString(java.nio.file.Path.of(
      dir, "_delta_log", "0" * 19 + "1.json"))
    assert(c1.contains("variantType"),
      "the feature must land in the same commit the evolved metaData does")
    assert(graft.core.DeltaImport.read(spark, dir).count() === 3L)
  }
}
