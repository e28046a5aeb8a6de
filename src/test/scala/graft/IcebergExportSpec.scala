package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import org.apache.hadoop.fs.Path

import graft.core.{IcebergExport, IcebergImport, TxTable}

/** Iceberg v2 export: the metadata tree must follow the published
  * table spec — required metadata fields, spec field-ids on every
  * avro field, manifest-list → manifest → data-file reachability with
  * exact record counts. (No stock Iceberg reader ships in this
  * offline JVM; this layout check against the spec is the validation
  * boundary, stated in COVERAGE.md.) */
class IcebergExportSpec extends SparkSpec {
  import spark.implicits._

  private implicit val fmts: Formats = DefaultFormats

  private def readAvro(path: String): (Seq[GenericRecord], org.apache.avro.Schema) = {
    val r = new DataFileReader[GenericRecord](
      new File(path), new GenericDatumReader[GenericRecord]())
    try (r.iterator().asScala.toList, r.getSchema) finally r.close()
  }

  test("exports a spec-conformant v2 metadata tree with exact counts") {
    val dir = tmpDir("iceberg") + "/t"
    val data = (1L to 100L).map(i => (i, s"n$i", i * 1.5)).toDF("k", "s", "v")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
    t.append(data)
    t.deleteWhere(col("k") > 90L) // rewrite path, no DVs
    val mdPath = IcebergExport.writeIcebergMetadata(spark, t)

    // version hint resolves the metadata file
    val hint = scala.io.Source.fromFile(s"$dir/metadata/version-hint.text")
      .mkString.trim
    assert(hint === "1")
    assert(new File(s"$dir/metadata/v1.metadata.json").exists())

    val md = JsonMethods.parse(
      scala.io.Source.fromFile(mdPath.stripPrefix("file:")).mkString)
    assert((md \ "format-version").extract[Int] === 2)
    for (k <- Seq("table-uuid", "location", "last-sequence-number",
        "last-updated-ms", "last-column-id", "current-schema-id",
        "schemas", "default-spec-id", "partition-specs",
        "default-sort-order-id", "sort-orders", "current-snapshot-id",
        "snapshots", "snapshot-log"))
      assert((md \ k) !== JNothing, s"metadata missing required '$k'")
    // schema: one field per column, ids 1..n, iceberg type names
    val fields = (md \ "schemas")(0) \ "fields"
    assert(fields.children.size === 3)
    assert(fields.children.map(f => (f \ "id").extract[Int]) === List(1, 2, 3))
    assert(fields.children.map(f => (f \ "type").extract[String]) ===
      List("long", "string", "double"))

    // current snapshot → manifest list avro
    val snapId = (md \ "current-snapshot-id").extract[Long]
    val snaps = (md \ "snapshots").children
    assert(snaps.map(s => (s \ "snapshot-id").extract[Long]).contains(snapId))
    val listPath = (snaps.find(s =>
      (s \ "snapshot-id").extract[Long] == snapId).get \ "manifest-list")
      .extract[String].stripPrefix("file:")
    val (listRecs, listSchema) = readAvro(listPath)
    // spec-true added/existing/deleted shape: the delete-rewrite head
    // snapshot's list carries the REWRITTEN v1 manifest (survivors
    // EXISTING, removed files DELETED) plus its own new-adds manifest
    assert(listRecs.size === 2)
    // spec field-ids present on every manifest-list field
    assert(listSchema.getFields.asScala.forall(_.getObjectProp("field-id") != null),
      "manifest_file fields must carry spec field-ids")
    assert(listSchema.getField("manifest_path").getObjectProp("field-id")
      .toString === "500")

    // manifest list → manifest avros → data files, counts exact
    val allEntries = listRecs.flatMap { mf =>
      val mPath = mf.get("manifest_path").toString.stripPrefix("file:")
      val (entries, entrySchema) = readAvro(mPath)
      assert(entrySchema.getFields.asScala
        .forall(_.getObjectProp("field-id") != null))
      // the list row's added_rows_count is exactly its ADDED entries
      val addedRows = entries
        .filter(_.get("status").asInstanceOf[Int] == 1)
        .map(_.get("data_file").asInstanceOf[GenericRecord]
          .get("record_count").asInstanceOf[Long]).sum
      assert(mf.get("added_rows_count") === addedRows)
      entries
    }
    val (liveE, deadE) =
      allEntries.partition(_.get("status").asInstanceOf[Int] != 2)
    assert(deadE.nonEmpty,
      "the delete-rewrite must leave DELETED tombstone entries")
    val dataFiles = liveE.map(_.get("data_file").asInstanceOf[GenericRecord])
    assert(dataFiles.map(_.get("record_count").asInstanceOf[Long]).sum === 90L)
    dataFiles.foreach { f =>
      val p = f.get("file_path").toString.stripPrefix("file:")
      assert(new File(p).exists(), s"data_file path missing: $p")
      assert(f.get("file_format").toString === "PARQUET")
    }
    assert(liveE.size === t.dataFileCount)
    // operation summaries: v1 appended, v2 removed AND added (rewrite)
    val ops = snaps.sortBy(s => (s \ "sequence-number").extract[Long])
      .map(s => (s \ "summary" \ "operation").extract[String])
    assert(ops === List("append", "append", "overwrite"))
  }

  test("outstanding deletion vectors export as v2 POSITION DELETES") {
    val dir = tmpDir("iceberg-dv") + "/t"
    val data = (1L to 20L).map(i => (i, i % 3L)).toDF("k", "g")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
    t.append(data)
    t.deleteWhereLight(col("g") === 0L) // 6 tombstones, NO materialize
    IcebergExport.writeIcebergMetadata(spark, t)

    // metadata shape: a content=1 manifest at sequence 2 pointing at
    // a parquet delete file with the spec's reserved columns
    val snap = graft.core.IcebergImport.snapshot(spark, dir)
    assert(snap.posDeleteFiles.size === 1)
    val del = spark.read.parquet(snap.posDeleteFiles.head)
    assert(del.columns.toSeq === Seq("file_path", "pos"))
    assert(del.count() === 6L)
    // sorted by (file_path, pos) per the spec
    val rows = del.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === rows.sorted)
    // record counts stay PHYSICAL on the data side
    assert(snap.recordCounts.sum === 20L)

    // merge-on-read round trip with tombstones still outstanding
    val back = graft.core.IcebergImport.read(spark, dir)
    assert(back.count() === 14L)
    assert(back.collect().map(_.toSeq).toSet ===
      t.read.collect().map(_.toSeq).toSet)
  }

  /** Rewrite an avro file in place through a mutation of its records.
    * Drops the Hadoop LocalFileSystem checksum sidecar — the original
    * writer created one, and a stale .crc turns later reads into
    * ChecksumExceptions. */
  private def rewriteAvro(path: String)
      (mutate: Seq[GenericRecord] => Seq[GenericRecord]): Unit = {
    val (recs, schema) = readAvro(path)
    val out = mutate(recs)
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[GenericRecord](schema))
    try { w.create(schema, new File(path)); out.foreach(w.append) }
    finally w.close()
    val f = new File(path)
    new File(f.getParentFile, s".${f.getName}.crc").delete()
    ()
  }

  test("bucket pruning requires the DEFAULT spec-id: foreign spec epochs never prune") {
    import graft.functions.IcebergBucketFn
    val dir = tmpDir("iceberg-specid") + "/t"
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType, nullable = false)
      .add("v", org.apache.spark.sql.types.DoubleType)
    val t = new TxTable(spark, dir, schema, Seq("k"), numBuckets = 2,
      bucketHash = TxTable.IcebergBucketHash)
    t.append(spark.createDataFrame(
      spark.sparkContext.parallelize((1L to 40L).map(k =>
        org.apache.spark.sql.Row(k, k * 1.0))), schema))
    IcebergExport.writeIcebergMetadata(spark, t)
    val k1 = (1L to 40L).find(k => IcebergBucketFn.bucketLong(k, 2) == 0).get

    // simulate PARTITION EVOLUTION: flip every data manifest's
    // partition_spec_id in the manifest list to an older epoch (5).
    // Its tuples were computed under a DIFFERENT modulus, so the
    // reader must read them UNPRUNED - never test them against the
    // default spec's candidate buckets
    val metaDir = new File(dir, "metadata")
    metaDir.listFiles().filter(_.getName.startsWith("snap-"))
      .foreach { list =>
        rewriteAvro(list.getPath) { recs =>
          recs.foreach { m =>
            if (m.get("content").asInstanceOf[Int] == 0)
              m.put("partition_spec_id", 5)
          }
          recs
        }
      }
    assert(graft.core.IcebergImport
      .readWhere(spark, dir, col("k") === k1)
      .collect().map(_.getLong(0)).toSeq === Seq(k1),
      "a foreign spec epoch must be read unpruned, never mis-pruned")
  }

  test("history export: snapshot pinning time-travels; refs carry tags") {
    val dir = tmpDir("iceberg-hist") + "/t"
    val data = (1L to 40L).map(i => (i, i * 0.5)).toDF("k", "v")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
    t.append(data.filter(col("k") <= 20L))  // v1
    t.createTag("first-load")
    t.append(data.filter(col("k") > 20L))   // v2
    val mdPath = IcebergExport.writeIcebergMetadata(spark, t)

    // one snapshot per retained version; the CURRENT one is v2's
    val md = JsonMethods.parse(
      scala.io.Source.fromFile(mdPath.stripPrefix("file:")).mkString)
    val snapIds = (md \ "snapshots").children
      .map(s => (s \ "snapshot-id").extract[Long]).sorted
    assert(snapIds === List(1000L, 1001L, 1002L))
    assert((md \ "current-snapshot-id").extract[Long] === 1002L)
    // refs: main at the head, the graft tag as an iceberg tag
    assert((md \ "refs" \ "main" \ "snapshot-id").extract[Long] === 1002L)
    assert((md \ "refs" \ "main" \ "type").extract[String] === "branch")
    assert((md \ "refs" \ "first-load" \ "snapshot-id")
      .extract[Long] === 1001L)
    assert((md \ "refs" \ "first-load" \ "type").extract[String] === "tag")

    // the exported history TIME-TRAVELS: pinning an older snapshot id
    // reads exactly that version's rows
    assert(graft.core.IcebergImport.read(spark, dir).count() === 40L)
    val pinned = graft.core.IcebergImport
      .read(spark, dir, snapshotId = Some(1001L))
    assert(pinned.count() === 20L)
    assert(pinned.agg(max("k")).head().getLong(0) === 20L)
    assert(graft.core.IcebergImport
      .read(spark, dir, snapshotId = Some(1000L)).count() === 0L)
  }

  test("LEGACY v1 tree with inline snapshot manifests imports") {
    // early v1 writers put the manifest path array directly in the
    // snapshot JSON (no manifest-list file) and the single legacy
    // "schema" field; the import must walk that shape too
    val root = tmpDir("icev1") + "/t"
    val data = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
      .toDF("k", "s", "v")
    val dataDir = new File(root, "data"); dataDir.mkdirs()
    data.coalesce(1).write.mode("overwrite")
      .parquet(new File(root, ".stage").toString)
    val part = new File(root, ".stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dataFile = new File(dataDir, "f1.parquet")
    assert(part.renameTo(dataFile))

    // hand-write a v1 manifest avro (entry: status + data_file)
    val manifestSchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        | {"name":"status","type":"int"},
        | {"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |  {"name":"file_path","type":"string"},
        |  {"name":"file_format","type":"string"},
        |  {"name":"record_count","type":"long"},
        |  {"name":"file_size_in_bytes","type":"long"}
        | ]}}]}""".stripMargin)
    val metaDir = new File(root, "metadata"); metaDir.mkdirs()
    val manifestPath = new File(metaDir, "m1.avro")
    val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[GenericRecord](
        manifestSchema))
    w.create(manifestSchema, manifestPath)
    val df = new org.apache.avro.generic.GenericData.Record(
      manifestSchema.getField("data_file").schema())
    df.put("file_path", dataFile.getAbsolutePath)
    df.put("file_format", "PARQUET")
    df.put("record_count", 3L)
    df.put("file_size_in_bytes", dataFile.length())
    val entry = new org.apache.avro.generic.GenericData.Record(manifestSchema)
    entry.put("status", 1)
    entry.put("data_file", df)
    w.append(entry); w.close()

    val metadata =
      s"""{"format-version":1,"table-uuid":"v1-test","location":"$root",
         |"last-updated-ms":1,"last-column-id":3,
         |"schema":{"type":"struct","schema-id":0,"fields":[
         |  {"id":1,"name":"k","required":false,"type":"long"},
         |  {"id":2,"name":"s","required":false,"type":"string"},
         |  {"id":3,"name":"v","required":false,"type":"double"}]},
         |"partition-spec":[],"properties":{},
         |"current-snapshot-id":77,
         |"snapshots":[{"snapshot-id":77,"timestamp-ms":1,
         |  "manifests":["${manifestPath.getAbsolutePath}"]}]}
         |""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(metaDir.toString, "v1.metadata.json"), metadata)
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(metaDir.toString, "version-hint.text"), "1")

    val got = graft.core.IcebergImport.read(spark, root)
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(got === Seq(Seq(1L, "a", 1.5), Seq(2L, "b", 2.5),
      Seq(3L, "c", 3.5)))
    // a snapshot with NEITHER manifest-list nor inline manifests is
    // still an honest refusal
    val broken = metadata.replace(
      s""""manifests":["${manifestPath.getAbsolutePath}"]""",
      """"note":"nothing"""")
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(metaDir.toString, "v1.metadata.json"), broken)
    val e = intercept[UnsupportedOperationException] {
      graft.core.IcebergImport.read(spark, root)
    }
    assert(e.getMessage.contains("neither"))
  }

  test("content=2 deletes without equality_ids refuse as malformed") {
    val dir = tmpDir("iceberg-eq") + "/t"
    val data = (1L to 10L).map(i => (i, i * 1.0)).toDF("k", "v")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 1)
    t.append(data)
    t.deleteWhereLight(col("k") <= 2L)
    IcebergExport.writeIcebergMetadata(spark, t)
    // flip the delete manifest's data_file.content to 2 (EQUALITY)
    // with no equality_ids — the reader must refuse, not misread
    val metaDir = new File(dir, "metadata")
    // manifest names are m-v<ver>-s<seq>-<content>-h<hash>.avro; the
    // delete manifest is any *-1-h*.avro
    val m1 = metaDir.listFiles()
      .find(_.getName.matches("m-v\\d+-s\\d+-1-h[0-9a-f]+\\.avro")).get
    rewriteAvro(m1.getPath) { recs =>
      recs.foreach(_.get("data_file").asInstanceOf[GenericRecord]
        .put("content", 2))
      recs
    }
    val e = intercept[IllegalArgumentException] {
      graft.core.IcebergImport.read(spark, dir).count()
    }
    assert(e.getMessage.contains("equality_ids"))
  }

  test("deleteMode=equality EXPORTS key-valued deletes a stock reader masks by key") {
    val dir = tmpDir("iceeq-exp") + "/t"
    val df = (1L to 100L).map(k => (k, k * 2.0)).toDF("k", "v")
    val t = new TxTable(spark, dir, df.schema, Seq("k"), numBuckets = 2)
    t.append(df)
    t.deleteWhereLight(col("k") % 10 === 0) // pure key-deletes
    IcebergExport.writeIcebergMetadata(spark, t, deleteMode = "equality")

    // the delete manifest entry is a content=2 EQUALITY delete whose
    // equality_ids name the key column's field id
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    val md = JsonMethods.parse(java.nio.file.Files.readString(
      java.nio.file.Path.of(dir, "metadata", "v1.metadata.json")))
    val lastList = (md \ "snapshots") match {
      case JArray(ss) => (ss.last \ "manifest-list") match {
        case JString(p) => p; case _ => fail("no list") }
      case _ => fail("no snapshots")
    }
    val delMf = IcebergImport.readAvro(new Path(lastList), conf)
      .find(m => m.get("content").asInstanceOf[Int] == 1)
      .getOrElse(fail("no delete manifest"))
    val entry = IcebergImport.readAvro(
      new Path(delMf.get("manifest_path").toString), conf).head
    val dfRec = entry.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
    assert(dfRec.get("content").asInstanceOf[Int] === 2)
    val eqIds = dfRec.get("equality_ids")
      .asInstanceOf[java.util.List[_]]
      .toArray.map(_.asInstanceOf[Number].intValue()).toSeq
    assert(eqIds === Seq(1)) // k is field id 1
    assert(dfRec.get("record_count").asInstanceOf[Long] === 10L)
    // the delete parquet holds exactly the deleted KEY VALUES
    val eqFile = dfRec.get("file_path").toString
    assert(spark.read.parquet(eqFile).collect().map(_.getLong(0)).sorted
      .toSeq === (10L to 100L by 10L))

    // the stock-shape reader (our import's equality path, proven
    // against hand-authored fixtures below) masks by key
    val back = IcebergImport.read(spark, dir)
    assert(back.count() === 90L)
    assert(back.agg(sum("k")).head.getLong(0) ===
      (1L to 100L).filterNot(_ % 10 == 0).sum)
    // re-sync is a no-op (deterministic delete file name + carry)
    IcebergExport.writeIcebergMetadata(spark, t, deleteMode = "equality")
    assert(IcebergImport.read(spark, dir).count() === 90L)

    // UNSOUND case: a key tombstoned by UPSERT is still live — a
    // cumulative equality delete would mask the live copy; refuse
    val dir2 = tmpDir("iceeq-ups") + "/t"
    val t2 = new TxTable(spark, dir2, df.schema, Seq("k"), numBuckets = 2)
    t2.append(df)
    t2.upsertLight(Seq((5L, 555.0)).toDF("k", "v")) // DVs the old row 5
    val e = intercept[IllegalArgumentException] {
      IcebergExport.writeIcebergMetadata(spark, t2,
        deleteMode = "equality")
    }
    assert(e.getMessage.contains("still LIVE"))
    // the position default handles it fine
    IcebergExport.writeIcebergMetadata(spark, t2)
    assert(IcebergImport.read(spark, dir2)
      .where(col("k") === 5L).head.getDouble(1) === 555.0)

    // (keyless tables cannot exist - TxTable requires key columns -
    // so the keyed-table guard in writeIcebergMetadata is pure
    // defense in depth and has no reachable negative case)
  }

  test("EQUALITY deletes mask null-safe and scope by sequence number") {
    val dir = tmpDir("iceberg-eqdel") + "/t"
    val data = (1L to 10L).map(i => (i, i * 1.0)).toDF("k", "v")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
    t.append(data)
    IcebergExport.writeIcebergMetadata(spark, t)
    val metaDir = new File(dir, "metadata")
    // the HEAD version's data manifest: highest m-v<version>-s*-0-h*
    val m0 = metaDir.listFiles()
      .filter(_.getName.matches("m-v\\d+-s\\d+-0-g\\d+-h[0-9a-f]+\\.avro"))
      .maxBy(f => "m-v(\\d+)-".r.findFirstMatchIn(f.getName).get
        .group(1).toLong)

    // two data files (one per bucket, data seq 3 = 2*v+1 for v=1);
    // lift file B to sequence 9 so the strictly-lower scoping rule
    // has something to protect
    val (entries0, _) = readAvro(m0.getPath)
    val paths = entries0.map(_.get("data_file")
      .asInstanceOf[GenericRecord].get("file_path").toString)
    assert(paths.size === 2)
    def keysOf(p: String): Set[Long] =
      spark.read.parquet(p).select("k").collect().map(_.getLong(0)).toSet
    val (fileA, fileB) = (paths.head, paths(1))
    val kA = keysOf(fileA).min // seq 3: delete applies
    val kB = keysOf(fileB).min // seq 9: delete must NOT apply
    rewriteAvro(m0.getPath) { recs =>
      recs.foreach { e =>
        val p = e.get("data_file").asInstanceOf[GenericRecord]
          .get("file_path").toString
        if (p == fileB) {
          e.put("sequence_number", 9L)
          e.put("file_sequence_number", 9L)
        }
      }
      recs
    }

    // the equality delete file itself: column k, both keys named
    val delDir = new File(dir, "_eq_deletes")
    Seq(kA, kB).toDF("k").coalesce(1)
      .write.mode("overwrite").parquet(delDir.toString)
    val delPath = delDir.listFiles()
      .find(_.getName.endsWith(".parquet")).get.getAbsolutePath

    // its manifest (content=1 manifest of a content=2 data_file with
    // equality_ids=[1] — field id 1 = column k) at sequence 4 — above
    // the head data manifest's sequence (3 = 2*v+1 for v=1), below
    // fileB's lifted 9
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"sequence_number","type":["null","long"],"default":null},
        |{"name":"file_sequence_number","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        | {"name":"content","type":"int"},
        | {"name":"file_path","type":"string"},
        | {"name":"file_format","type":"string"},
        | {"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
        | {"name":"record_count","type":"long"},
        | {"name":"file_size_in_bytes","type":"long"},
        | {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}
        |]}}]}""".stripMargin)
    val dfRec = new org.apache.avro.generic.GenericData.Record(
      entrySchema.getField("data_file").schema())
    dfRec.put("content", 2)
    dfRec.put("file_path", delPath)
    dfRec.put("file_format", "PARQUET")
    dfRec.put("partition", new org.apache.avro.generic.GenericData.Record(
      dfRec.getSchema.getField("partition").schema()))
    dfRec.put("record_count", 2L)
    dfRec.put("file_size_in_bytes", new File(delPath).length())
    dfRec.put("equality_ids",
      java.util.Arrays.asList(Integer.valueOf(1)))
    val entry = new org.apache.avro.generic.GenericData.Record(entrySchema)
    entry.put("status", 1)
    entry.put("sequence_number", 4L)
    entry.put("file_sequence_number", 4L)
    entry.put("data_file", dfRec)
    val m1Path = new File(metaDir, "eqdel-m1.avro")
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[GenericRecord](
        entrySchema))
    try { w.create(entrySchema, m1Path); w.append(entry) }
    finally w.close()

    // splice the delete manifest into the CURRENT snapshot's manifest
    // list (the history export writes one list per retained version)
    val snap = metaDir.listFiles()
      .find(_.getName.startsWith(s"snap-${1000L + t.currentVersion}-")).get
    rewriteAvro(snap.getPath) { recs =>
      val tpl = recs.head
      val mf = new org.apache.avro.generic.GenericData.Record(tpl.getSchema)
      tpl.getSchema.getFields.asScala.foreach(f =>
        mf.put(f.name(), tpl.get(f.name())))
      mf.put("manifest_path", m1Path.getAbsolutePath)
      mf.put("manifest_length", m1Path.length())
      mf.put("content", 1)
      mf.put("sequence_number", 4L)
      mf.put("min_sequence_number", 4L)
      recs :+ mf
    }

    val snapMeta = graft.core.IcebergImport.snapshot(spark, dir)
    assert(snapMeta.eqDeletes.map(d => (d.seq, d.eqColumns)) ===
      Seq((4L, Seq("k"))))
    val back = graft.core.IcebergImport.read(spark, dir)
    val kept = back.collect().map(_.getLong(0)).toSet
    // kA (data seq 3 < delete seq 4) deleted; kB (data seq 9) SURVIVES
    assert(!kept.contains(kA), "kA must be equality-deleted")
    assert(kept.contains(kB), "kB written above the delete's sequence " +
      "must survive (strictly-lower scoping)")
    assert(kept.size === 9)
  }

  test("TRUE round-trip: export -> import -> row-for-row equality") {
    val dir = tmpDir("iceberg-rt") + "/t"
    val data = (1L to 500L).map(i =>
      (i, s"name$i", i * 0.25, (i % 13).toInt)).toDF("k", "s", "v", "g")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 4)
    t.append(data)
    t.deleteWhere(col("g") === 5) // copy-on-write: snapshot stays clean
    IcebergExport.writeIcebergMetadata(spark, t)

    val snap = graft.core.IcebergImport.snapshot(spark, dir)
    // schema restored with exact Spark types
    assert(snap.schema.map(f => (f.name, f.dataType)) ===
      t.currentSchema.map(f => (f.name, f.dataType)))
    // every live data file reachable, record counts exact
    assert(snap.recordCounts.sum === t.count())

    val back = graft.core.IcebergImport.read(spark, dir)
    assert(back.collect().map(_.toSeq).toSet ===
      t.read.collect().map(_.toSeq).toSet)
  }

  test("import pins a snapshot id and refuses unknown ones honestly") {
    val dir = tmpDir("iceberg-pin") + "/t"
    val data = (1L to 50L).map(i => (i, i * 2.0)).toDF("k", "v")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
    t.append(data)
    IcebergExport.writeIcebergMetadata(spark, t)
    val snap = graft.core.IcebergImport.snapshot(spark, dir)
    // pinning the current id explicitly resolves the same file set
    val pinned = graft.core.IcebergImport.snapshot(spark, dir,
      Some(snap.snapshotId))
    assert(pinned.files === snap.files)
    val e = intercept[IllegalArgumentException] {
      graft.core.IcebergImport.snapshot(spark, dir, Some(99999L))
    }
    assert(e.getMessage.contains("99999"))
  }

  test("a dropped column exports as ABSENT and never resurfaces on import") {
    val dir = tmpDir("iceberg-drop") + "/t"
    val data = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "name", "v")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
    t.append(data)
    t.dropColumns(Seq("name")) // metadata-only: files still hold 'name'
    IcebergExport.writeIcebergMetadata(spark, t)
    val back = graft.core.IcebergImport.read(spark, dir)
    assert(back.columns.toSeq === Seq("k", "v"))
    assert(back.collect().map(_.toSeq).toSet ===
      t.read.collect().map(_.toSeq).toSet)
  }

  test("re-sync is incremental: stable table-uuid, no metadata churn") {
    val dir = tmpDir("iceberg-incr") + "/t"
    val data = (1L to 100L).map(i => (i, i * 2.0)).toDF("k", "v")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
    t.append(data.filter(col("k") <= 50L))
    IcebergExport.writeIcebergMetadata(spark, t)
    val meta1 = new File(dir, "metadata").listFiles().map(_.getName).toSet
    def uuidOf(): String = {
      val txt = java.nio.file.Files.readString(
        java.nio.file.Path.of(dir, "metadata", "v1.metadata.json"))
      (JsonMethods.parse(txt) \ "table-uuid").extract[String]
    }
    val u1 = uuidOf()
    // a no-op re-sync rewrites ONLY the metadata.json pointer pair —
    // every versioned avro/manifest keeps its deterministic name, so
    // the directory neither grows nor churns (and a scheduled
    // export_uniform stays O(new versions), not O(history))
    IcebergExport.writeIcebergMetadata(spark, t)
    val meta2 = new File(dir, "metadata").listFiles().map(_.getName).toSet
    assert(meta2 === meta1, s"no-op re-sync must not add files: " +
      s"${(meta2 -- meta1).toSeq.sorted}")
    assert(uuidOf() === u1,
      "the spec's table-uuid must survive re-sync (stock readers treat " +
        "a uuid change as a different table)")
    // a new commit adds exactly its own snapshot's files
    t.append(data.filter(col("k") > 50L))
    t.deleteWhereLight(col("k") % 10 === 0)
    IcebergExport.writeIcebergMetadata(spark, t)
    val meta3 = new File(dir, "metadata").listFiles().map(_.getName).toSet
    assert((meta3 -- meta2).map(_.stripPrefix(".")).forall(n =>
      n.contains("-v2-") || n.contains("-v3-") || n.startsWith("snap-")),
      s"re-sync must only add the NEW versions' files, added " +
        s"${(meta3 -- meta2).toSeq.sorted}")
    assert(uuidOf() === u1)
    val back = graft.core.IcebergImport.read(spark, dir)
    assert(back.count() === 90L)
    assert(back.agg(sum("k")).head.getLong(0) ===
      (1L to 100L).filter(_ % 10 != 0).sum)
  }

  test("render memo: a no-churn re-sync renders 0 manifests, an append only its own") {
    val dir = tmpDir("iceberg-memo") + "/t"
    val data = (1L to 100L).map(i => (i, i * 2.0)).toDF("k", "v")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
    t.append(data.filter(col("k") <= 40L))  // v1
    t.append(data.filter(col("k") > 40L && col("k") <= 80L)) // v2
    def renders(body: => Unit): Long = {
      val before = IcebergExport.manifestRenders.get()
      body
      IcebergExport.manifestRenders.get() - before
    }
    assert(renders(IcebergExport.writeIcebergMetadata(spark, t)) > 0L)
    // no-churn re-sync: every retained version's manifest comes from
    // the memo — zero records built, zero serialization
    assert(renders(IcebergExport.writeIcebergMetadata(spark, t)) === 0L,
      "a no-op re-sync must not re-render any manifest")
    // an append re-sync renders ONLY the new version's manifests
    t.append(data.filter(col("k") > 80L)) // v3
    val n = renders(IcebergExport.writeIcebergMetadata(spark, t))
    assert(n >= 1L && n <= IcebergExport.ManifestGroups.toLong,
      s"append re-sync rendered $n manifests - expected only v3's")
    // and the re-synced tree still reads exactly
    assert(graft.core.IcebergImport.read(spark, dir).count() === 100L)
    // a DELETE invalidates only the rewritten manifests (fingerprint
    // moved: liveness changed), never the whole history
    t.deleteWhereLight(col("k") % 10 === 0)
    val n2 = renders(IcebergExport.writeIcebergMetadata(spark, t))
    assert(n2 >= 1L, "a delete must re-render the rewritten manifests")
    assert(graft.core.IcebergImport.read(spark, dir).count() === 90L)
    // memo survives on disk and keeps the next sync at zero
    assert(renders(IcebergExport.writeIcebergMetadata(spark, t)) === 0L)
  }

  test("re-sync keeps published snapshot timestamps (TIMESTAMP AS OF is stable)") {
    val dir = tmpDir("iceberg-ts") + "/t"
    val data = (1L to 20L).map(i => (i, i * 2.0)).toDF("k", "v")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 1)
    t.append(data)
    IcebergExport.writeIcebergMetadata(spark, t)
    def log(): Seq[(Long, Long)] = {
      val txt = java.nio.file.Files.readString(
        java.nio.file.Path.of(dir, "metadata", "v1.metadata.json"))
      (JsonMethods.parse(txt) \ "snapshot-log") match {
        case JArray(es) => es.map(e =>
          ((e \ "snapshot-id"), (e \ "timestamp-ms")) match {
            case (JInt(id), JInt(ts)) => (id.toLong, ts.toLong)
            case other => fail(s"bad snapshot-log entry $other")
          })
        case _ => fail("no snapshot-log")
      }
    }
    val log1 = log()
    Thread.sleep(5)
    t.append(Seq((21L, 42.0)).toDF("k", "v"))
    IcebergExport.writeIcebergMetadata(spark, t)
    val log2 = log()
    // retained snapshots keep their published stamp — a previously
    // valid TIMESTAMP AS OF pin resolves to the same snapshot after
    // the re-sync; only the NEW snapshot is stamped with this sync's
    // clock, and the log stays monotone
    assert(log2.take(log1.size) === log1,
      "re-sync restamped retained snapshot-log entries")
    assert(log2.size === log1.size + 1)
    assert(log2.last._2 >= log1.last._2, "snapshot-log must be monotone")
    // the snapshots array agrees with the log (same stability)
    val txt = java.nio.file.Files.readString(
      java.nio.file.Path.of(dir, "metadata", "v1.metadata.json"))
    val snapTs = (JsonMethods.parse(txt) \ "snapshots") match {
      case JArray(ss) => ss.map(s =>
        ((s \ "snapshot-id"), (s \ "timestamp-ms")) match {
          case (JInt(id), JInt(ts)) => (id.toLong, ts.toLong)
          case other => fail(s"bad snapshot $other")
        }).toMap
      case _ => fail("no snapshots")
    }
    log2.foreach { case (id, ts) => assert(snapTs(id) === ts) }
  }

  test("manifest-list deleted count probes the legacy Java field name too") {
    // Java-written Iceberg manifest lists keep deleted_data_files_count
    // (the pre-spec-rename name); the spec v2 Avro name is
    // deleted_files_count. Both must read as removal evidence.
    def rec(field: String, n: Int): GenericRecord = {
      val sch = new org.apache.avro.Schema.Parser().parse(
        s"""{"type":"record","name":"manifest_file","fields":[
           |{"name":"manifest_path","type":"string"},
           |{"name":"$field","type":["null","int"],"default":null}]}"""
          .stripMargin)
      val r = new org.apache.avro.generic.GenericData.Record(sch)
      r.put("manifest_path", "m.avro")
      r.put(field, n)
      r
    }
    assert(graft.core.IcebergImport.manifestDeletedCount(
      rec("deleted_files_count", 3)) === 3L)
    assert(graft.core.IcebergImport.manifestDeletedCount(
      rec("deleted_data_files_count", 2)) === 2L)
    // absent/null field reads 0, never throws
    val bare = rec("deleted_files_count", 1)
    bare.put("deleted_files_count", null)
    assert(graft.core.IcebergImport.manifestDeletedCount(bare) === 0L)
  }

  test("manifests carry column bounds; readWhere prunes (ghost proof)") {
    val dir = tmpDir("iceberg-bounds") + "/t"
    val data = (1L to 400L)
      .map(i => (i, s"name_${"%04d".format(i)}", i * 1.0))
      .toDF("k", "name", "v")
    val t = new TxTable(spark, dir, data.schema, Seq("k"), numBuckets = 2)
    t.append(data)
    t.compactClustered(Seq("v"), filesPerBucket = 4) // selective bounds
    IcebergExport.writeIcebergMetadata(spark, t)

    // the import lifts the exported bounds into per-file stats
    val snap = graft.core.IcebergImport.snapshot(spark, dir)
    assert(snap.fileStats.nonEmpty && snap.fileStats.forall(_.isDefined),
      "every exported data file must carry lifted bounds")
    val vStats = snap.fileStats.flatten.flatMap(_.cols.get("v"))
    assert(vStats.flatMap(_.min).map(_.asInstanceOf[Double]).min === 1.0)
    assert(vStats.flatMap(_.max).map(_.asInstanceOf[Double]).max === 400.0)
    // string bounds ride as UTF-8 (spec single-value serialization)
    val nameStats = snap.fileStats.flatten.flatMap(_.cols.get("name"))
    assert(nameStats.flatMap(_.min).map(_.asInstanceOf[String]).min ===
      "name_0001")

    // numbers must be right before the ghost proof: pruned read ==
    // full read under the same predicate
    val pred = col("v") <= 100.0
    val full = t.read.filter(pred).agg(sum("k")).head.getLong(0)
    assert(graft.core.IcebergImport.readWhere(spark, dir, pred)
      .agg(sum("k")).head.getLong(0) === full)

    // GHOST PROOF: delete every data file whose bounds exclude the
    // predicate - a reader that fails to prune dies with
    // FileNotFound, so success IS the pruning
    val excluded = snap.files.zip(snap.fileStats).collect {
      case (f, Some(st)) if st.cols.get("v")
        .exists(_.min.exists(_.asInstanceOf[Double] > 100.0)) => f
    }
    assert(excluded.nonEmpty, "clustering must make some files excludable")
    excluded.foreach(f => assert(
      new File(new java.net.URI(f).getPath).delete(), s"rm $f"))
    assert(graft.core.IcebergImport.readWhere(spark, dir, pred)
      .agg(sum("k")).head.getLong(0) === full)
    intercept[Exception] {
      graft.core.IcebergImport.read(spark, dir).agg(sum("k")).head
    }
    // an overlapping predicate must keep ghosts (never over-prune)
    intercept[Exception] {
      graft.core.IcebergImport.readWhere(spark, dir, col("v") > 350.0)
        .agg(sum("k")).head
    }
  }

  test("iceberg-bucketed table exports a bucket[N] partition spec " +
      "stock readers prune (ghost file AND ghost manifest proofs)") {
    import graft.functions.IcebergBucketFn
    val dir = tmpDir("iceberg-partspec") + "/t"
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType, nullable = false)
      .add("v", org.apache.spark.sql.types.DoubleType)
    val t = new TxTable(spark, dir, schema, Seq("k"), numBuckets = 2,
      bucketHash = TxTable.IcebergBucketHash)
    val data = (1L to 200L).map(i => (i, i * 1.0)).toDF("k", "v")
    t.append(data)
    t.deleteWhereLight(col("k") % 50L === 0L) // DV path on a spec'd table
    IcebergExport.writeIcebergMetadata(spark, t)

    // metadata: spec-id 1 = bucket[2] on k (field-id 1000), default
    val md = JsonMethods.parse(java.nio.file.Files.readString(
      java.nio.file.Path.of(dir, "metadata", "v1.metadata.json")))
    assert((md \ "default-spec-id").extract[Int] === 1)
    val specs = (md \ "partition-specs").extract[List[JValue]]
    assert(specs.map(s => (s \ "spec-id").extract[Int]) === List(0, 1))
    val f1 = ((specs(1) \ "fields"): @unchecked) match {
      case JArray(List(f)) => f
    }
    assert((f1 \ "transform").extract[String] === "bucket[2]")
    assert((f1 \ "name").extract[String] === "k_bucket")
    assert((f1 \ "field-id").extract[Int] === 1000)
    val kId = (f1 \ "source-id").extract[Int]
    assert(kId >= 1)
    assert((md \ "last-partition-id").extract[Int] === 1000)

    // every data manifest entry carries the spec tuple == murmur3
    // bucket of every row in its file; manifest list carries field
    // summaries with the group's bucket range
    val metaDir = new File(dir, "metadata")
    val dataManifests = metaDir.listFiles()
      .filter(_.getName.matches("m-v\\d+-s\\d+-0-g\\d+-h[0-9a-f]+\\.avro"))
    assert(dataManifests.length >= 2,
      "2 buckets must export as 2 manifest groups")
    dataManifests.foreach { m =>
      val (recs, _) = readAvro(m.getPath)
      recs.foreach { e =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        val part = df.get("partition").asInstanceOf[GenericRecord]
        val b = part.get("k_bucket").asInstanceOf[Number].intValue()
        val p = df.get("file_path").toString
        spark.read.parquet(p).select("k").collect().map(_.getLong(0))
          .foreach(k => assert(IcebergBucketFn.bucketLong(k, 2) === b))
      }
    }

    // round-trip equality before the ghost proofs (DVs masked)
    val expect = (1L to 200L).filter(_ % 50 != 0).sum
    assert(graft.core.IcebergImport.read(spark, dir)
      .agg(sum("k")).head.getLong(0) === expect)

    // candidate key / its bucket; a key from the OTHER bucket
    val k1 = (1L to 200L).find(k => IcebergBucketFn.bucketLong(k, 2) == 0
      && k % 50 != 0).get
    val pred = col("k") === k1
    assert(graft.core.IcebergImport.readWhere(spark, dir, pred)
      .agg(sum("k")).head.getLong(0) === k1)

    // GHOST FILE proof: delete bucket-1's data files — an equality
    // probe into bucket 0 must never open them
    val snap = graft.core.IcebergImport.snapshot(spark, dir)
    t.currentFileInfo.filter(_.bucket == 1).foreach { f =>
      assert(new File(f.path).delete(), s"rm ${f.path}")
    }
    assert(graft.core.IcebergImport.readWhere(spark, dir, pred)
      .agg(sum("k")).head.getLong(0) === k1)
    intercept[Exception] {
      graft.core.IcebergImport.read(spark, dir).agg(sum("k")).head
    }

    // GHOST MANIFEST proof: truncate bucket-1's manifest avro to
    // garbage — the manifest-list field summary must keep the reader
    // from ever OPENING it (file-level pruning alone would still die
    // parsing the manifest)
    dataManifests.foreach { m =>
      val (recs, _) = readAvro(m.getPath)
      val buckets = recs.map(_.get("data_file").asInstanceOf[GenericRecord]
        .get("partition").asInstanceOf[GenericRecord]
        .get("k_bucket").asInstanceOf[Number].intValue()).toSet
      if (buckets == Set(1))
        java.nio.file.Files.write(m.toPath, Array[Byte](0, 1, 2, 3))
    }
    assert(graft.core.IcebergImport.readWhere(spark, dir, pred)
      .agg(sum("k")).head.getLong(0) === k1)
    // IN-list candidates across both buckets keep the broken manifest
    // in scope — and fail, proving the pruning is predicate-driven
    val k2 = (1L to 200L).find(k =>
      IcebergBucketFn.bucketLong(k, 2) == 1 && k % 50 != 0).get
    intercept[Exception] {
      graft.core.IcebergImport.readWhere(spark, dir,
        col("k").isin(k1, k2)).agg(sum("k")).head
    }
    assert(snap.files.nonEmpty) // snapshot taken pre-ghost stays valid
  }
}
