package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{TxTable, Warehouse}

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  /** A keyed table built the way [[Warehouse.domainTable]] builds one. */
  private def kv(numBuckets: Int = 1): TxTable =
    new TxTable(spark, s"${tmpDir("wh")}/kv", StructType(Seq(
      StructField("k", StringType), StructField("v", IntegerType))),
      Seq("k"), numBuckets)

  test("createIfAbsent yields empty readable table") {
    val t = kv(); t.createIfAbsent()
    assert(t.read.count() === 0)
    assert(t.read.schema.fieldNames.toSeq === Seq("k", "v"))
  }

  test("append then read") {
    val t = kv()
    t.append(Seq(("a", 1), ("b", 2)).toDF("k", "v"))
    assert(t.read.count() === 2)
  }

  test("insertIfAbsent skips existing keys (ON CONFLICT DO NOTHING)") {
    val t = kv()
    t.append(Seq(("a", 1)).toDF("k", "v"))
    t.insertIfAbsent(Seq(("a", 99), ("b", 2)).toDF("k", "v"))
    val got = t.read.orderBy("k").as[(String, Int)].collect().toSeq
    assert(got === Seq(("a", 1), ("b", 2)))
  }

  test("upsert replaces by key (ON CONFLICT DO UPDATE) and is idempotent") {
    val t = kv()
    t.append(Seq(("a", 1), ("b", 2)).toDF("k", "v"))
    val updates = Seq(("b", 20), ("c", 30)).toDF("k", "v")
    t.upsert(updates)
    t.upsert(updates) // idempotence: twice ≡ once
    val got = t.read.orderBy("k").as[(String, Int)].collect().toSeq
    assert(got === Seq(("a", 1), ("b", 20), ("c", 30)))
  }

  test("deleteWhere removes matching rows, keeps null-predicate rows") {
    val t = kv()
    t.append(Seq(("a", Some(1)), ("b", Some(2)), ("c", Some(3)), ("n", None))
      .toDF("k", "v"))
    t.deleteWhere(col("v") >= 2)
    assert(t.read.orderBy("k").as[(String, Option[Int])].collect().toSeq ===
      Seq(("a", Some(1)), ("n", None)))
  }

  test("truncate empties but preserves schema") {
    val t = kv()
    t.append(Seq(("a", 1)).toDF("k", "v"))
    t.truncate()
    assert(t.read.count() === 0)
    assert(t.read.schema.fieldNames.toSeq === Seq("k", "v"))
  }

  test("compact rewrites to the target file count preserving data") {
    val t = kv()
    (1 to 5).foreach(i => t.append(Seq((s"k$i", i)).toDF("k", "v")))
    assert(t.dataFileCount >= 5)
    t.compact() // one file per bucket
    assert(t.dataFileCount === 1)
    assert(t.read.orderBy("k").as[(String, Int)].collect().map(_._2).toSeq ===
      Seq(1, 2, 3, 4, 5))
  }

  test("createAll creates every domain table") {
    val wh = new Warehouse(spark, tmpDir("whall"))
    wh.createAll()
    assert(wh.domainTable("regulation_items").read.count() === 0)
    assert(wh.domainTable("links").read.count() === 0)
  }

  // ---- hash-bucketed tables (bucket-scoped mutation) ----

  /** bucket → the current version's data files, each with its on-disk
    * (size, mtime). */
  private type Layout = Map[Int, Map[String, (Long, Long)]]

  private def layout(t: TxTable): Layout =
    t.currentFileInfo.groupBy(_.bucket).map { case (b, files) =>
      b -> files.map { f =>
        val file = new java.io.File(new Path(f.path).toUri.getPath)
        f.path -> (file.length(), file.lastModified())
      }.toMap
    }

  private def changedBuckets(before: Layout, after: Layout): Set[Int] =
    (before.keySet ++ after.keySet).filter(b => before.get(b) != after.get(b))

  test("bucketed: read hides _kb and preserves schema order") {
    val t = kv(4)
    t.append(Seq(("a", 1), ("b", 2)).toDF("k", "v"))
    assert(t.read.schema.fieldNames.toSeq === Seq("k", "v"))
    assert(t.read.count() === 2)
  }

  test("bucketed: upsert merges by key and is idempotent") {
    val t = kv(4)
    t.append((1 to 40).map(i => (s"k$i", i)).toDF("k", "v"))
    val updates = Seq(("k7", 700), ("new1", 1000)).toDF("k", "v")
    t.upsert(updates)
    t.upsert(updates)
    val got = t.read.as[(String, Int)].collect().toMap
    assert(got.size === 41)
    assert(got("k7") === 700)
    assert(got("new1") === 1000)
    assert(got("k8") === 8)
  }

  test("bucketed: 1-row upsert leaves untouched bucket partitions' files unchanged") {
    val t = kv(4)
    t.append((1 to 200).map(i => (s"k$i", i)).toDF("k", "v"))
    val before = layout(t)
    assert(before.size > 1)
    t.upsert(Seq(("k17", -17)).toDF("k", "v"))
    // every other bucket keeps the same files, byte-identical with
    // original mtimes
    val touched = changedBuckets(before, layout(t))
    assert(touched.size === 1, s"expected 1 touched bucket, got $touched")
    assert(t.read.as[(String, Int)].collect().toMap.apply("k17") === -17)
  }

  test("bucketed: deleteWhere rewrites only buckets containing matches") {
    val t = kv(4)
    t.append((1 to 200).map(i => (s"k$i", i)).toDF("k", "v"))
    val before = layout(t)
    t.deleteWhere(col("k") === "k42")
    assert(changedBuckets(before, layout(t)).size === 1)
    assert(t.read.count() === 199)
    assert(t.read.filter(col("k") === "k42").count() === 0)
  }

  test("bucketed: insertIfAbsent skips existing keys") {
    val t = kv(4)
    t.append(Seq(("a", 1)).toDF("k", "v"))
    t.insertIfAbsent(Seq(("a", 99), ("b", 2)).toDF("k", "v"))
    assert(t.read.orderBy("k").as[(String, Int)].collect().toSeq ===
      Seq(("a", 1), ("b", 2)))
  }

  /** A warehouse whose `run_logs` holds 20 single-row files. */
  private def fragmentedLogs(prefix: String): Warehouse = {
    val wh = new Warehouse(spark, tmpDir(prefix))
    wh.createAll()
    val logs = wh.domainTable("run_logs")
    (1 to 20).foreach { i =>
      logs.append(Seq((s"l$i", s"run-1", "stage", s"m$i"))
        .toDF("id", "run_id", "stage", "message")
        .withColumn("meta", lit(null).cast(StringType))
        .withColumn("created_at", lit(t0).cast(TimestampType)))
    }
    assert(logs.dataFileCount >= 20)
    wh
  }

  test("compactAll sweeps only tables over the file threshold, preserving data") {
    val wh = fragmentedLogs("whopt")
    val swept = wh.compactAll(maxFiles = 16)
    assert(swept.contains("run_logs"))
    val (before, after) = swept("run_logs")
    assert(before >= 20 && after <= 16) // one file per non-empty bucket
    assert(wh.domainTable("run_logs").count() === 20)
    // tables under the threshold are untouched
    assert(!swept.contains("regulation_items"))
  }

  test("bucketed: deleteWhere with no matches touches nothing") {
    val t = kv(4)
    t.append((1 to 50).map(i => (s"k$i", i)).toDF("k", "v"))
    val before = layout(t)
    t.deleteWhere(col("k") === "absent")
    assert(layout(t) === before)
  }

  test("compactAll on a transactional warehouse compacts AND vacuums to the retention window") {
    val wh = fragmentedLogs("whopt-tx")
    val swept = wh.compactAll(maxFiles = 16, keepVersions = 1, vacuumMinAgeMs = 0L)
    assert(swept("run_logs")._2 <= 16) // one file per non-empty bucket
    assert(wh.domainTable("run_logs").count() === 20)
    val tx = wh.domainTable("run_logs")
    assert(tx.versions.length === 1) // retention window enforced
    // physically reclaimed: only the retained version's files remain
    val onDisk = new java.io.File(tx.dir + "/data").listFiles()
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    assert(onDisk === tx.dataFileCount, s"$onDisk files left after vacuum")
  }

  test("run creation is idempotent by id (streaming replay safety)") {
    val wh = new Warehouse(spark, tmpDir("whrun"))
    wh.createAll()
    val tr = new graft.jobs.RunTracker(wh)
    tr.create("r1", "scan", "EU", 30, t0)
    tr.create("r1", "scan", "EU", 30, t0)
    assert(wh.domainTable("runs").read.filter(col("id") === "r1").count() === 1)
  }
}
