package graft

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.core.{DeltaDv, IcebergExport, IcebergImport, Puffin, TxTable}

/** Iceberg v3 DELETION VECTORS (`formatVersion = 3`): tombstones
  * export as Puffin `deletion-vector-v1` blobs — the v3 spec's
  * framing (BE length, D1 D3 39 64 magic, portable 64-bit
  * RoaringBitmapArray, BE CRC-32) — referenced from the delete
  * manifest by (content_offset, content_size_in_bytes,
  * referenced_data_file). The v2 parquet position-delete path stays
  * the default. */
class IcebergV3DvSpec extends SparkSpec {
  import spark.implicits._

  private def mk(tag: String): (TxTable, String) = {
    val dir = tmpDir(tag) + "/t"
    val df = (1L to 100L).map(k => (k, k * 2.0)).toDF("k", "v")
    val t = new TxTable(spark, dir, df.schema, Seq("k"), numBuckets = 2)
    t.append(df)
    t.deleteWhereLight(col("k") % 10 === 0)
    (t, dir)
  }

  test("v3 export: DV blob framing, manifest locator fields, metadata shape") {
    val (t, dir) = mk("v3dv")
    IcebergExport.writeIcebergMetadata(spark, t, formatVersion = 3)

    val md = JsonMethods.parse(java.nio.file.Files.readString(
      java.nio.file.Path.of(dir, "metadata", "v1.metadata.json")))
    assert((md \ "format-version") === JInt(3))
    // row-lineage id space is reserved: 100 rows ever added
    assert((md \ "next-row-id") === JInt(100))
    val snaps = (md \ "snapshots") match {
      case JArray(ss) => ss
      case _ => fail("no snapshots")
    }
    // the delete snapshot's base sits after the 100 added rows; bases
    // are monotone non-decreasing across the history
    assert(snaps.map(s => (s \ "first-row-id")).last === JInt(100))
    assert(snaps.forall(s => (s \ "first-row-id") != JNothing))

    // the delete snapshot's manifest list carries a content=1
    // manifest whose entries locate PUFFIN DV blobs
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val lastList = (snaps.last \ "manifest-list") match {
      case JString(p) => p
      case _ => fail("no manifest-list")
    }
    val delMf = IcebergImport.readAvro(new Path(lastList),
      spark.sparkContext.hadoopConfiguration)
      .find(m => Option(m.get("content")).exists(
        _.asInstanceOf[Int] == 1)).getOrElse(fail("no delete manifest"))
    val entries = IcebergImport.readAvro(
      new Path(delMf.get("manifest_path").toString),
      spark.sparkContext.hadoopConfiguration)
    assert(entries.nonEmpty)
    var totalCard = 0L
    entries.foreach { e =>
      val df = e.get("data_file").asInstanceOf[
        org.apache.avro.generic.GenericRecord]
      assert(df.get("file_format").toString === "PUFFIN")
      val pufPath = new Path(df.get("file_path").toString)
      val off = df.get("content_offset").asInstanceOf[Long]
      val size = df.get("content_size_in_bytes").asInstanceOf[Long]
      val ref = df.get("referenced_data_file").toString
      assert(ref.endsWith(".parquet"))
      // the blob at the declared extent decodes: framing + CRC + bitmap
      val in = fs.open(pufPath)
      val blob = new Array[Byte](size.toInt)
      try in.readFully(off, blob) finally in.close()
      // BE length prefix covers magic+vector; magic pinned to the spec
      assert(((blob(0) & 0xff) << 24 | (blob(1) & 0xff) << 16 |
        (blob(2) & 0xff) << 8 | (blob(3) & 0xff)) === blob.length - 8)
      assert((blob(4) & 0xff) === 0xD1 && (blob(5) & 0xff) === 0xD3 &&
        (blob(6) & 0xff) === 0x39 && (blob(7) & 0xff) === 0x64)
      val positions = DeltaDv.deserializeBitmap(
        IcebergExport.dvBlobVector(blob))
      assert(positions.length.toLong ===
        df.get("record_count").asInstanceOf[Long])
      totalCard += positions.length
      // the puffin footer's own blob metadata agrees with the entry
      val info = Puffin.readFooter(fs, pufPath)
      val bm = info.blobs.find(_.offset == off).getOrElse(
        fail(s"no footer blob at offset $off"))
      assert(bm.blobType === Puffin.DeletionVectorV1)
      assert(bm.length === size)
      assert(bm.properties("referenced-data-file") === ref)
      assert(bm.properties("cardinality").toLong === positions.length)
    }
    assert(totalCard === 10L) // k % 10 == 0 over 1..100
  }

  test("v3 round-trip: our importer masks DV blobs; v2 default unchanged") {
    val (t, dir) = mk("v3dv-rt")
    IcebergExport.writeIcebergMetadata(spark, t, formatVersion = 3)
    val back = IcebergImport.read(spark, dir)
    assert(back.count() === 90L)
    assert(back.agg(sum("k")).head.getLong(0) ===
      (1L to 100L).filterNot(_ % 10 == 0).sum)
    // time travel: the pre-delete snapshot still serves all rows
    assert(IcebergImport.read(spark, dir, Some(1001L)).count() === 100L)

    // v2 default: same table exports parquet position deletes
    val (t2, dir2) = mk("v3dv-v2")
    IcebergExport.writeIcebergMetadata(spark, t2)
    val md2 = JsonMethods.parse(java.nio.file.Files.readString(
      java.nio.file.Path.of(dir2, "metadata", "v1.metadata.json")))
    assert((md2 \ "format-version") === JInt(2))
    assert(new File(dir2, "_iceberg_deletes").exists())
    assert(IcebergImport.read(spark, dir2).count() === 90L)
  }

  test("DV blob bytes pinned to the v3 spec layout — magic appears ONCE") {
    def hex(a: Array[Byte]): String = a.map(b => f"$b%02x").mkString
    def unhex(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

    // Position {5}: the ENTIRE framed blob, pinned byte-for-byte.
    // Spec layout: 4-byte BE length of (magic + vector) = 0x1e, then
    // the payload — which IS Delta's portable RoaringBitmapArray
    // serialization, BEGINNING with its own magic D1 D3 39 64 — then
    // a 4-byte BE CRC-32 of the payload. The magic is NOT prepended a
    // second time (a double magic reads as a bogus u64 bitmap count
    // in stock v3 readers — the pre-round-20 bug this fixture pins
    // against; a symmetric round-trip alone cannot catch it).
    val singlePinned = "0000001e" +
      "d1d3396401000000000000003a3000000100000000000000100000000500" +
      "df099414"
    val single = DeltaDv.serializeBitmap(Iterator(5L))
    assert(hex(IcebergExport.dvBlobBytes(single)) === singlePinned)
    // payload ≡ Delta portable bytes: a Delta DV consumer reads the
    // blob's (magic + vector) extent DIRECTLY, no re-framing
    assert(hex(single) === singlePinned.drop(8).dropRight(8))

    // Multi-bucket fixture (positions 0, 1, 5 and (3L<<32)|7 — four
    // 32-bit buckets, two empty), same pinning
    val multiPinned = "00000044" +
      "d1d3396404000000000000003a30000001000000000002001000000000000100" +
      "05003a300000000000003a300000000000003a300000010000000000000010" +
      "0000000700" + "5ba1bc54"
    val multi =
      DeltaDv.serializeBitmap(Iterator(0L, 1L, 5L, (3L << 32) | 7L))
    assert(hex(IcebergExport.dvBlobBytes(multi)) === multiPinned)

    // A spec-true FOREIGN blob (authored from the pinned hex, not by
    // our writer) is accepted and decodes to the positions
    val foreign = IcebergExport.dvBlobVector(unhex(multiPinned))
    assert(hex(foreign) === hex(multi))
    assert(DeltaDv.deserializeBitmap(foreign).toSeq ===
      Seq(0L, 1L, 5L, (3L << 32) | 7L))

    // The pre-round-20 DOUBLE-MAGIC framing is rejected (CRC covers
    // the duplicated magic, so the checksum cannot match)
    val doubled = {
      val vec = single
      val bb = java.nio.ByteBuffer.allocate(4 + 4 + vec.length + 4)
      bb.putInt(4 + vec.length)
      bb.put(unhex("d1d33964")); bb.put(vec)
      val crc = new java.util.zip.CRC32()
      crc.update(unhex("d1d33964")); crc.update(vec)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    intercept[IllegalArgumentException](
      IcebergExport.dvBlobVector(doubled))
  }

  test("a v2→v3 upgrade rewrites parquet position deletes as DV blobs") {
    val (t, dir) = mk("v3dv-up")
    // publish as v2 first: parquet position deletes
    IcebergExport.writeIcebergMetadata(spark, t)
    def md() = JsonMethods.parse(java.nio.file.Files.readString(
      java.nio.file.Path.of(dir, "metadata", "v1.metadata.json")))
    assert((md() \ "format-version") === JInt(2))
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // upgrade: v3 metadata must reference ONLY Puffin DVs from its
    // delete manifests (the spec deprecates position-delete files in
    // v3; carrying the v2 parquet manifests forward would make strict
    // readers refuse the tree)
    IcebergExport.writeIcebergMetadata(spark, t, formatVersion = 3)
    assert((md() \ "format-version") === JInt(3))
    val snaps = (md() \ "snapshots") match {
      case JArray(ss) => ss; case _ => fail("no snapshots")
    }
    var delEntries = 0
    snaps.foreach { s0 =>
      val list = (s0 \ "manifest-list") match {
        case JString(p) => p; case _ => fail("no manifest-list")
      }
      IcebergImport.readAvro(new Path(list),
        spark.sparkContext.hadoopConfiguration)
        .filter(m => Option(m.get("content")).exists(
          _.asInstanceOf[Int] == 1))
        .foreach { m =>
          IcebergImport.readAvro(new Path(m.get("manifest_path").toString),
            spark.sparkContext.hadoopConfiguration).foreach { e =>
            val df = e.get("data_file").asInstanceOf[
              org.apache.avro.generic.GenericRecord]
            assert(df.get("file_format").toString === "PUFFIN",
              s"v3 delete entry still ${df.get("file_format")}")
            delEntries += 1
          }
        }
    }
    assert(delEntries > 0, "upgrade lost the tombstones")
    assert(IcebergImport.read(spark, dir).count() === 90L)
  }

  test("a re-sync KEEPS the published v3 version; row-id space survives expiry") {
    val dir = tmpDir("v3dv-keep") + "/t"
    val df = (1L to 60L).map(k => (k, k * 2.0)).toDF("k", "v")
    val t = new TxTable(spark, dir, df.schema, Seq("k"), numBuckets = 1)
    t.append(df.filter(col("k") <= 20L))          // v1: 20 rows
    t.append(df.filter(col("k") > 20L && col("k") <= 40L)) // v2: 20
    t.append(df.filter(col("k") > 40L))           // v3: 20
    IcebergExport.writeIcebergMetadata(spark, t, formatVersion = 3)
    def md() = JsonMethods.parse(java.nio.file.Files.readString(
      java.nio.file.Path.of(dir, "metadata", "v1.metadata.json")))
    def lng(v: JValue): Long = v match {
      case JInt(x) => x.toLong; case JLong(x) => x; case _ => -1L }
    assert(lng(md() \ "next-row-id") === 60L)
    val firstIds0 = (md() \ "snapshots") match {
      case JArray(ss) => ss.map(s0 =>
        lng(s0 \ "snapshot-id") -> lng(s0 \ "first-row-id")).toMap
      case _ => fail("no snapshots")
    }
    // a DEFAULT re-sync (no explicit version) must keep v3 — a stats
    // republish or scheduled sync can never silently downgrade
    IcebergExport.writeIcebergMetadata(spark, t)
    assert((md() \ "format-version") === JInt(3))

    // expire the oldest version, then re-sync: retained snapshots
    // keep their published first-row-id, next-row-id never shrinks,
    // and the snapshot-log stays monotone
    t.vacuum(keepVersions = 2, minAgeMs = 0L)
    t.append(Seq((61L, 122.0)).toDF("k", "v"))
    IcebergExport.writeIcebergMetadata(spark, t)
    val m2 = md()
    assert((m2 \ "format-version") === JInt(3))
    assert(lng(m2 \ "next-row-id") === 61L, "id space must only grow")
    val snaps2 = (m2 \ "snapshots") match {
      case JArray(ss) => ss
      case _ => fail("no snapshots")
    }
    snaps2.foreach { s0 =>
      val id = lng(s0 \ "snapshot-id")
      firstIds0.get(id).foreach(prev =>
        assert(lng(s0 \ "first-row-id") === prev,
          s"snapshot $id first-row-id moved after expiry"))
    }
    val logTs = (m2 \ "snapshot-log") match {
      case JArray(es) => es.map(e => lng(e \ "timestamp-ms"))
      case _ => fail("no snapshot-log")
    }
    assert(logTs === logTs.sorted, "snapshot-log must stay monotone")
    assert(logTs.distinct.size === logTs.size,
      "new stamps must sit strictly above carried ones")
  }

  test("v3 ROW LINEAGE: explicit ids, stable across re-sync/expiry, fresh on rewrite") {
    val dir = tmpDir("v3rows") + "/t"
    val df = (1L to 60L).map(k => (k, k * 2.0)).toDF("k", "v")
    val t = new TxTable(spark, dir, df.schema, Seq("k"), numBuckets = 2)
    t.append(df.filter(col("k") <= 30L))  // v1: 30 rows
    t.append(df.filter(col("k") > 30L))   // v2: 30 rows
    IcebergExport.writeIcebergMetadata(spark, t, formatVersion = 3)
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    def md() = JsonMethods.parse(java.nio.file.Files.readString(
      java.nio.file.Path.of(dir, "metadata", "v1.metadata.json")))
    def lng(v: JValue): Long = v match {
      case JInt(x) => x.toLong; case JLong(x) => x; case _ => -1L }
    /** head snapshot's (file → (first_row_id, record_count)) plus the
      * per-manifest first_row_id list. */
    def headIds(): (Map[String, (Long, Long)], Seq[Long]) = {
      val snaps = (md() \ "snapshots") match {
        case JArray(ss) => ss; case _ => fail("no snapshots") }
      val cur = lng(md() \ "current-snapshot-id")
      val list = snaps.find(s0 => lng(s0 \ "snapshot-id") == cur)
        .map(s0 => (s0 \ "manifest-list") match {
          case JString(p) => p; case _ => fail("no list") }).get
      val mfs = IcebergImport.readAvro(new Path(list), conf)
        .filter(m => m.get("content").asInstanceOf[Int] == 0)
      // a manifest whose files all died (pure DELETED tombstones) has
      // no live rows and legitimately no base — the field is optional
      val mfIds = mfs.flatMap(m => Option(m.get("first_row_id"))
        .map(_.asInstanceOf[java.lang.Long].longValue()))
      val fileIds = mfs.flatMap { m =>
        IcebergImport.readAvro(new Path(m.get("manifest_path").toString), conf)
          .filter(e => e.get("status").asInstanceOf[Int] != 2)
          .map { e =>
            val d = e.get("data_file").asInstanceOf[
              org.apache.avro.generic.GenericRecord]
            d.get("file_path").toString ->
              (d.get("first_row_id").asInstanceOf[java.lang.Long]
                .longValue(),
                d.get("record_count").asInstanceOf[Long])
          }
      }.toMap
      (fileIds, mfIds)
    }
    val (ids1, mfIds1) = headIds()
    // every live file carries an EXPLICIT id; ranges are disjoint and
    // exactly tile [0, next-row-id)
    def assertTiling(ids: Map[String, (Long, Long)], totalRows: Long)
        : Unit = {
      val ranges = ids.values.toSeq.sortBy(_._1)
      assert(ranges.map(_._2).sum === totalRows)
      ranges.sliding(2).foreach {
        case Seq((a, n), (b, _)) =>
          assert(a + n <= b, s"overlap: [$a,+$n) vs $b")
        case _ => ()
      }
    }
    assertTiling(ids1, 60L)
    assert(lng(md() \ "next-row-id") === 60L)
    assert(mfIds1.nonEmpty && mfIds1.forall(_ >= 0L))

    // a re-sync keeps EVERY published id (no reassignment)
    IcebergExport.writeIcebergMetadata(spark, t)
    assert(headIds()._1 === ids1, "re-sync moved published row ids")

    // append: old ids keep, the new file's range starts at the
    // published watermark
    t.append(Seq((61L, 122.0)).toDF("k", "v"))
    IcebergExport.writeIcebergMetadata(spark, t)
    val (ids2, _) = headIds()
    ids1.foreach { case (f, v0) => assert(ids2(f) === v0) }
    val newRanges = (ids2 -- ids1.keySet).values
    assert(newRanges.forall(_._1 >= 60L),
      "new file dipped into published id space")
    assert(lng(md() \ "next-row-id") === 61L)

    // EXPIRY re-attributes surviving files to the first retained
    // snapshot — their published ranges must NOT move
    t.vacuum(keepVersions = 2, minAgeMs = 0L)
    IcebergExport.writeIcebergMetadata(spark, t)
    val (ids3, _) = headIds()
    ids2.foreach { case (f, v0) => assert(ids3(f) === v0,
      s"expiry moved $f from $v0 to ${ids3(f)}") }

    // a layout-only REWRITE (compaction reorders rows, and _row_id is
    // not materialized in the data files): rewritten files get FRESH
    // ranges above the watermark — the id space grows, never overlaps
    val before = lng(md() \ "next-row-id")
    t.compact()
    IcebergExport.writeIcebergMetadata(spark, t)
    val (ids4, _) = headIds()
    assertTiling(ids4, 61L)
    assert(ids4.values.forall(_._1 >= 0L))
    val rewritten = ids4 -- ids3.keySet
    assert(rewritten.nonEmpty, "compaction produced no new files?")
    assert(rewritten.values.forall(_._1 >= before),
      "rewritten file reused a published id range")
    assert(lng(md() \ "next-row-id") >= before + 61L)
  }

  test("v3 changelog stream serves DV retractions as delete rows") {
    val (t, dir) = mk("v3dv-ch")
    IcebergExport.writeIcebergMetadata(spark, t, formatVersion = 3)
    val out = tmpDir("v3dv-ch-out")
    val q = spark.readStream.format("graft")
      .option("icebergChanges", "true").load(dir)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", tmpDir("v3dv-ch-ck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
    assert(got.filter(col("_change_type") === "insert").count() === 100L)
    assert(got.filter(col("_change_type") === "delete")
      .select("k").as[Long].collect().sorted ===
      (10L to 100L by 10L).toArray)
  }
}
