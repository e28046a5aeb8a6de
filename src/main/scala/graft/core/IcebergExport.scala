package graft.core

import java.nio.charset.StandardCharsets

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** ICEBERG-SPEC EXPORT — the second half of the interop phrase the
  * north star names ("table formats like Delta/Iceberg"): publish a
  * [[TxTable]] snapshot as an Apache Iceberg v2 table by writing the
  * spec's metadata tree INSIDE the table directory, per the published
  * Iceberg table spec (iceberg.apache.org/spec — format-version 2):
  *
  *   metadata/v1.metadata.json        table metadata (schema w/ field
  *                                    ids, specs, snapshot)
  *   metadata/snap-<id>-1-<uuid>.avro manifest list (manifest_file
  *                                    records, spec field-ids)
  *   metadata/<uuid>-m0.avro          manifest (manifest_entry →
  *                                    data_file records)
  *   metadata/version-hint.text       HadoopCatalog pointer ("1")
  *
  * Like [[DeltaExport]], this is pure metadata over the manifest — no
  * Iceberg jars, no data rewrite: data_file entries reference the
  * snapshot's existing parquet by absolute URI, record counts come
  * from the manifest's footer stats. Outstanding deletion vectors
  * export NATIVELY as v2 POSITION DELETES: the sidecars' tombstones
  * rewrite (distributed, sorted by file_path then pos per the spec)
  * into a delete parquet under `_iceberg_deletes/` with the spec's
  * reserved field-ids (2147483546 file_path / 2147483545 pos), and a
  * second, content=1 manifest at a HIGHER sequence number points at
  * it — no `materializeDeletes()` rewrite precondition. Shallow-clone
  * foreign references export fine (Iceberg paths are absolute URIs).
  *
  * Validation honesty: no stock Iceberg reader exists in this offline
  * JVM, so IcebergExportSpec validates the LAYOUT against the
  * published spec (required metadata fields, spec field-ids on every
  * avro field, manifest-list → manifest → data-file reachability,
  * record-count exactness) — the strongest check available without
  * the jars; COVERAGE.md states this boundary.
  */
object IcebergExport {

  /** Max data manifests per exported version for PARTITIONED tables:
    * entries split into bucket-range groups so the manifest list's
    * field summaries let a point query open ~1/G of the manifest
    * bytes. Bounded — metadata file count per version never exceeds
    * this regardless of bucket count. */
  val ManifestGroups: Int = 8

  /** Render-code epoch for the manifest memo: BUMP whenever
    * [[writeIcebergMetadata]]'s entry RENDERING changes shape (new
    * fields, different stats encoding, …) so memoized names from the
    * previous code can never be reused for different bytes. Data/
    * schema/spec changes are fingerprinted automatically; only the
    * rendering code itself needs this manual epoch. */
  private val RenderEpoch: String = "render-1"

  /** Count of data manifests actually RENDERED (records built +
    * serialized) — test probe for the memo: a no-churn re-sync must
    * render 0, an append re-sync only the new versions'. */
  private[graft] val manifestRenders =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def icebergType(dt: DataType, v3: Boolean): String =
    dt match {
      case BooleanType      => "boolean"
      case IntegerType      => "int"
      case ShortType | ByteType => "int"
      case LongType         => "long"
      case FloatType        => "float"
      case DoubleType       => "double"
      case StringType       => "string"
      case BinaryType       => "binary"
      case DateType         => "date"
      case TimestampType    => "timestamptz"
      case TimestampNTZType => "timestamp"
      case d: DecimalType   => s"decimal(${d.precision}, ${d.scale})"
      // the v3 spec declares a variant type; graft stages the plain
      // value/metadata encoding, which IS the published layout
      case _: org.apache.spark.sql.types.VariantType if v3 => "variant"
      case _: org.apache.spark.sql.types.VariantType =>
        throw new UnsupportedOperationException(
          "iceberg v2 export does not map variant - export with " +
            "formatVersion = 3 (the v3 spec declares a variant type)")
      case other => throw new UnsupportedOperationException(
        s"iceberg export does not map $other (flat relational schemas only)")
    }

  private def schemaJson(schema: StructType, v3: Boolean): JObject =
    schemaJsonWithIds(schema, 0,
      schema.fieldNames.zipWithIndex.map { case (n, i) =>
        n.toLowerCase -> (i + 1) }.toMap, _.name, v3)

  /** Iceberg schema JSON with EXPLICIT field ids — per-snapshot
    * schemas must give the same column (same physical name) the same
    * id in every schema version, or time travel re-binds wrongly. */
  private def schemaJsonWithIds(schema: StructType, schemaId: Int,
      ids: Map[String, Int], physOf: StructField => String,
      v3: Boolean): JObject = {
    val fields = schema.fields.map { f =>
      JObject(
        "id" -> JInt(ids(physOf(f).toLowerCase)),
        "name" -> JString(f.name),
        "required" -> JBool(!f.nullable),
        "type" -> JString(icebergType(f.dataType, v3)))
    }
    JObject(
      "type" -> JString("struct"),
      "schema-id" -> JInt(schemaId),
      "fields" -> JArray(fields.toList))
  }

  // avro schemas with the spec's REQUIRED field-ids as avro props —
  // Iceberg readers resolve manifest fields by id, not position.
  // The `partition` record (field-id 102) is spec-shaped: EMPTY for
  // unpartitioned tables, one int bucket field (ids 1000+) when the
  // table's layout exports as a bucket[N] partition spec — so the
  // manifest-entry schema is built per shape, not a constant.
  private def manifestEntrySchemaFor(
      partitionFields: Seq[(String, Int)], v3Dv: Boolean = false,
      /** v3 ROW LINEAGE: data_file gains `first_row_id` (142). */
      v3Rows: Boolean = false,
      /** EQUALITY deletes: data_file gains `equality_ids` (135). */
      eqIds: Boolean = false): Schema = {
    val pf = partitionFields.map { case (n, id) =>
      s"""{"name":"$n","type":["null","int"],"default":null,"field-id":$id}"""
    }.mkString(",")
    // v3 delete manifests: the spec's deletion-vector locator fields
    val dv3 =
      if (!v3Dv) ""
      else """ {"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
        | {"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
        | {"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145},"""
        .stripMargin
    val rows3 =
      if (!v3Rows) ""
      else """ {"name":"first_row_id","type":["null","long"],"default":null,"field-id":142},"""
    val eq =
      if (!eqIds) ""
      else """ {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135},"""
    new Schema.Parser().parse(
    s"""{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      | {"name":"content","type":"int","field-id":134},
      | {"name":"file_path","type":"string","field-id":100},
      | {"name":"file_format","type":"string","field-id":101},
      | {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$pf]}},
      | {"name":"record_count","type":"long","field-id":103},
      | {"name":"file_size_in_bytes","type":"long","field-id":104},$dv3$rows3$eq
      | {"name":"value_counts","field-id":109,"default":null,"type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k119_v120","fields":[{"name":"key","type":"int","field-id":119},{"name":"value","type":"long","field-id":120}]}}]},
      | {"name":"null_value_counts","field-id":110,"default":null,"type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k121_v122","fields":[{"name":"key","type":"int","field-id":121},{"name":"value","type":"long","field-id":122}]}}]},
      | {"name":"lower_bounds","field-id":125,"default":null,"type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k126_v127","fields":[{"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]}}]},
      | {"name":"upper_bounds","field-id":128,"default":null,"type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k129_v130","fields":[{"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]}}]}
      |]}}]}""".stripMargin)
  }

  /** The unpartitioned shape (empty partition record) — delete
    * manifests and legacy spark-hash tables. */
  private val ManifestEntrySchema: Schema = manifestEntrySchemaFor(Nil)

  /** v3 delete-manifest entry shape: `data_file` gains the spec's
    * deletion-vector fields — `referenced_data_file` (143),
    * `content_offset` (144), `content_size_in_bytes` (145) — which
    * locate one DV blob inside a Puffin file. */
  private val ManifestEntrySchemaV3: Schema =
    manifestEntrySchemaFor(Nil, v3Dv = true)

  /** One v3 DELETION VECTOR blob payload (Puffin `deletion-vector-v1`
    * per the v3 spec): 4-byte big-endian length of (magic + vector),
    * the magic bytes D1 D3 39 64, the vector as a portable 64-bit
    * RoaringBitmapArray, then a big-endian CRC-32 of (magic +
    * vector). The spec chose the magic so that (magic + vector)
    * TOGETHER are byte-identical to Delta's portable DV
    * serialization — [[DeltaDv.serializeBitmap]]'s output already
    * BEGINS with D1 D3 39 64 (its little-endian magic 1681511377),
    * so the framed payload is exactly that output, the magic
    * appearing ONCE. (Round-20 fix: a second prepended magic made
    * stock v3 readers misparse our DVs and made us reject spec-true
    * foreign ones — the symmetric round-trip had masked it.) */
  private[graft] val DvMagic: Array[Byte] =
    Array(0xD1.toByte, 0xD3.toByte, 0x39.toByte, 0x64.toByte)
  private[graft] def dvBlobBytes(vector: Array[Byte]): Array[Byte] = {
    require(vector.length >= 4 && vector.take(4).sameElements(DvMagic),
      "DV vector must be Delta-portable (leading magic D1 D3 39 64)")
    val out = java.nio.ByteBuffer.allocate(4 + vector.length + 4) // BE
    out.putInt(vector.length) // combined length of magic + vector
    out.put(vector)
    val crc = new java.util.zip.CRC32()
    crc.update(vector)
    out.putInt(crc.getValue.toInt)
    out.array()
  }

  /** Inverse of [[dvBlobBytes]]: validate framing + CRC, return the
    * (magic + vector) bytes unchanged — directly consumable by
    * [[DeltaDv.deserializeBitmap]], which expects its own leading
    * magic. */
  private[graft] def dvBlobVector(blob: Array[Byte]): Array[Byte] = {
    require(blob.length >= 12, s"DV blob too small (${blob.length}B)")
    val bb = java.nio.ByteBuffer.wrap(blob) // BE default
    val len = bb.getInt
    require(len == blob.length - 8,
      s"DV blob length $len != framed ${blob.length - 8}")
    val vector = new Array[Byte](len)
    bb.get(vector)
    require(vector.take(4).sameElements(DvMagic), "DV blob magic mismatch")
    // A DOUBLED magic (pre-round-20 writers prepended it again) is
    // structurally ambiguous: the second copy would read as the u64
    // bitmap-array count 0x…6439D3D1 ≈ 1.7e9 buckets — impossible for
    // any real DV (count is bounded by maxPosition >>> 32). Reject it
    // loudly instead of letting deserialization fail downstream.
    require(vector.length < 8 || !vector.slice(4, 8).sameElements(DvMagic),
      "double-magic DV framing (pre-spec writer) — rewrite the Puffin file")
    val crc = new java.util.zip.CRC32()
    crc.update(vector)
    require(bb.getInt == crc.getValue.toInt, "DV blob CRC mismatch")
    vector
  }

  /** One extremum in the spec's BINARY SINGLE-VALUE SERIALIZATION
    * (Appendix D): fixed-width little-endian numerics, raw UTF-8 for
    * strings, 0x00/0x01 booleans. Values arrive in FileStats'
    * comparable domain (integral/date/timestamp → Long, float/double
    * → Double, string/boolean as-is). Exact per-file extrema are
    * always valid bounds, so no truncation logic is needed; types
    * outside this set (decimal, binary) emit no bound — readers
    * simply don't skip on those columns. */
  private def boundBuf(v: Any,
      dt: org.apache.spark.sql.types.DataType): Option[java.nio.ByteBuffer] = {
    import org.apache.spark.sql.types._
    import java.nio.{ByteBuffer, ByteOrder}
    // fixed-width buffers fill then flip; the wrapped string buffer is
    // ready as-is (flipping a wrap would zero its limit)
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    def done(b: ByteBuffer) = { b.flip(); b }
    (dt, v) match {
      case (ByteType | ShortType | IntegerType | DateType, n: Long) =>
        Some(done(le(4).putInt(n.toInt)))
      case (LongType | TimestampType | TimestampNTZType, n: Long) =>
        Some(done(le(8).putLong(n)))
      case (FloatType, d: Double) => Some(done(le(4).putFloat(d.toFloat)))
      case (DoubleType, d: Double) => Some(done(le(8).putDouble(d)))
      case (BooleanType, b: Boolean) =>
        Some(done(le(1).put(if (b) 1.toByte else 0.toByte)))
      case (StringType, s: String) => Some(ByteBuffer.wrap(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      case _ => None
    }
  }

  /** data_file column-stats maps (value/null counts + lower/upper
    * bounds) from the entry's footer stats — what lets a STOCK
    * Iceberg reader data-skip our exports the way graft's own zone
    * maps do. Avro maps with int keys ride as the spec's
    * array-of-key/value-records shape. */
  private def putColumnStats(df: GenericRecord,
      st: Option[FileStats.Stats], schemaAtV: StructType,
      physOf: StructField => String, ids: Map[String, Int]): Unit = {
    val stats = st.getOrElse(return ())
    val dfSchema = df.getSchema
    def mapArray(field: String, entries: Seq[(Int, AnyRef)]): Unit =
      if (entries.nonEmpty) {
        val arrSchema = dfSchema.getField(field).schema().getTypes.get(1)
        val arr = new GenericData.Array[GenericRecord](
          entries.size, arrSchema)
        entries.foreach { case (k, v) =>
          val r = new GenericData.Record(arrSchema.getElementType)
          r.put("key", k); r.put("value", v); arr.add(r)
        }
        df.put(field, arr)
      }
    val perField = schemaAtV.fields.toSeq.flatMap { f =>
      val phys = physOf(f)
      for {
        id <- ids.get(phys.toLowerCase)
        cs <- stats.cols.get(phys)
      } yield (id, f.dataType, cs)
    }
    if (stats.rows >= 0)
      mapArray("value_counts", perField.map { case (id, _, _) =>
        id -> java.lang.Long.valueOf(stats.rows) })
    mapArray("null_value_counts", perField.collect {
      case (id, _, cs) if cs.nulls >= 0 =>
        id -> java.lang.Long.valueOf(cs.nulls) })
    mapArray("lower_bounds", perField.flatMap { case (id, dt, cs) =>
      cs.min.flatMap(boundBuf(_, dt)).map(id -> _) })
    mapArray("upper_bounds", perField.flatMap { case (id, dt, cs) =>
      cs.max.flatMap(boundBuf(_, dt)).map(id -> _) })
  }

  private def manifestFileSchemaFor(v3Rows: Boolean): Schema = {
    // v3 ROW LINEAGE: the manifest-list row gains `first_row_id`
    // (520) — the base stock readers inherit data-file row ids from
    val rows3 =
      if (!v3Rows) ""
      else """{"name":"first_row_id","type":["null","long"],"default":null,"field-id":520},"""
    new Schema.Parser().parse(
    s"""{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514},$rows3
      |{"name":"partitions","field-id":507,"default":null,"type":["null",{"type":"array","items":{"type":"record","name":"r508","fields":[
      | {"name":"contains_null","type":"boolean","field-id":509},
      | {"name":"contains_nan","type":["null","boolean"],"default":null,"field-id":518},
      | {"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
      | {"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}
      |]}}]}
      |]}""".stripMargin)
  }
  private val ManifestFileSchema: Schema = manifestFileSchemaFor(false)
  private val ManifestFileSchemaV3: Schema = manifestFileSchemaFor(true)

  /** Write an avro metadata file ATOMICALLY: dot-prefixed temp, then
    * rename to the final name (the writePositionDeletes /
    * GraftFilesMicroBatchStream.writeBatch pattern). The skip-if-
    * exists incremental sync treats an existing final name as
    * complete — a crash mid-write must therefore never leave partial
    * bytes UNDER the final name, or every later re-sync would
    * reference a torn manifest forever. A torn temp file is a
    * harmless orphan the next successful write truncates. */
  private def writeAvro(fs: FileSystem, path: Path, schema: Schema,
      records: Seq[GenericRecord], meta: Map[String, String]): Long = {
    val tmp = new Path(path.getParent, s".${path.getName}.tmp")
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    val out = fs.create(tmp, true)
    try {
      w.create(schema, out)
      records.foreach(w.append)
    } finally w.close() // closes out
    if (fs.exists(path)) fs.delete(path, false)
    require(fs.rename(tmp, path), s"could not publish $path")
    fs.getFileStatus(path).getLen
  }

  /** Short SELF-ENFORCING content fingerprint of an avro metadata
    * file: SHA-256 over the writer schema, the container metadata
    * (sorted) and every record's raw datum encoding (deterministic —
    * no container sync markers). Part of the file NAME, so a code
    * change that alters manifest content for the same table version
    * can never silently reuse a stale file: the name moves with the
    * bytes, review-enforced no more. */
  private def contentHash(schema: Schema, records: Seq[GenericRecord],
      meta: Map[String, String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(schema.toString.getBytes(StandardCharsets.UTF_8))
    meta.toSeq.sortBy(_._1).foreach { case (k, v) =>
      md.update(k.getBytes(StandardCharsets.UTF_8))
      md.update(0.toByte)
      md.update(v.getBytes(StandardCharsets.UTF_8))
      md.update(1.toByte)
    }
    val buf = new java.io.ByteArrayOutputStream()
    val enc = org.apache.avro.io.EncoderFactory.get()
      .binaryEncoder(buf, null)
    val dw = new GenericDatumWriter[GenericRecord](schema)
    records.foreach(dw.write(_, enc))
    enc.flush()
    md.update(buf.toByteArray)
    md.digest().take(4).map("%02x".format(_)).mkString
  }

  /** [[writeAvro]] keyed by CONTENT — the incremental-sync primitive.
    * The final name is `<prefix>-h<contentHash>.avro`: deterministic
    * for unchanged content (a no-op re-sync writes nothing and never
    * litters the metadata dir with per-call random names), and
    * self-invalidating when content changes (the bounds-addition
    * episode: same version, new bytes → new name; the old file
    * becomes an unreferenced orphan, never a silently-stale
    * reference). An existing file under the hashed name is
    * byte-equivalent by construction and is skipped. Returns
    * (path, length). */
  private def writeAvroOnce(fs: FileSystem, metaDir: Path, prefix: String,
      schema: Schema, records: Seq[GenericRecord],
      meta: Map[String, String]): (Path, Long) = {
    val path = new Path(metaDir,
      s"$prefix-h${contentHash(schema, records, meta)}.avro")
    if (fs.exists(path)) (path, fs.getFileStatus(path).getLen)
    else (path, writeAvro(fs, path, schema, records, meta))
  }

  /** The sidecars' outstanding tombstones as ONE spec-conformant
    * position-delete parquet under `<root>/_iceberg_deletes/` (its own
    * directory — TxTable's `data/` holds only manifest-tracked files,
    * and vacuum must never confuse the two). The rewrite is
    * DISTRIBUTED: executors join the sidecar rows to the (tiny,
    * broadcast) basename→URI map and sort by (file_path, pos) as the
    * spec requires; the driver touches only the rename. One file per
    * export — bounded by the tombstones outstanding since the last
    * materialize, the same bound [[DeltaExport]]'s .bin carries.
    * Returns (absolute URI, delete-row count). */
  /** The sidecars' outstanding tombstones as ONE spec EQUALITY-delete
    * parquet (content=2): the deleted rows' KEY VALUES, for
    * Flink-CDC-shape consumers that mask by key. The deleted keys are
    * recovered DISTRIBUTED — the dirty files' rows (with the reader's
    * `_metadata` row index) semi-join the broadcast tombstone set,
    * bounded by the DV bytes, and only the key columns are projected.
    * Columns are written under their PHYSICAL parquet names with the
    * table's Iceberg field ids as parquet field ids, so both
    * id-resolving and name-mapping stock readers bind them.
    *
    * SOUNDNESS GATE (caller-checked too): equality deletes at the
    * cumulative sequence mask EVERY matching key in older files, so a
    * key that is tombstoned AND still live (an upsert-superseded row)
    * would over-delete its live copy. [[writeIcebergMetadata]]
    * refuses `deleteMode=equality` in that case. */
  private def writeEqualityDeletes(spark: SparkSession, fs: FileSystem,
      table: TxTable, dirty: Seq[(TxTable.LiveFile, Seq[String])],
      uuid: String, keyFields: Seq[(StructField, Int)]): (String, Long) = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val delDir = new Path(table.dir, "_iceberg_deletes")
    val CountedName = s"""^\\Q$uuid\\E-n(\\d+)-eq-deletes\\.parquet$$""".r
    val existing = (fs.globStatus(
      new Path(delDir, s"$uuid-n*-eq-deletes.parquet")) match {
      case null => Array.empty[org.apache.hadoop.fs.FileStatus]
      case a => a
    }).flatMap(st => st.getPath.getName match {
      case CountedName(n) => Some((st.getPath, n.toLong))
      case _ => None
    }).headOption
    existing.foreach { case (p, n) =>
      return (fs.makeQualified(p).toString, n)
    }
    val sidecars = dirty.flatMap(_._2).distinct
    import spark.implicits._
    val namesDf = dirty.map { case (f, _) =>
      f.path.substring(f.path.lastIndexOf('/') + 1) }.toDF("_dv_file")
    val tomb = spark.read.parquet(sidecars: _*)
      .select("_dv_file", "_dv_pos").distinct()
      .join(broadcast(namesDf), "_dv_file")
    val physKeys = keyFields.map { case (f, _) =>
      table.physicalFieldName(f) }
    val physSchema = table.physicalize(StructType(keyFields.map(_._1)))
    // columns land under their DECLARED names (the metadata schema's
    // spelling — what our own eq-masking path binds by) with the
    // Iceberg field ids as parquet field ids (what spec id-resolving
    // readers bind by) — correct under both binding disciplines
    val rows = TxTable.withRowIdentity(spark.read.schema(physSchema)
        .parquet(dirty.map(_._1.path): _*))
      .join(broadcast(tomb), col("_file") === col("_dv_file") &&
        col("_pos") === col("_dv_pos"), "left_semi")
      .select(keyFields.zip(physKeys).map { case ((f, fid), phys) =>
        val md = new MetadataBuilder()
          .putLong("parquet.field.id", fid.toLong).build()
        col(phys).as(f.name, md)
      }: _*)
      .sort(keyFields.map(f => col(f._1.name)): _*)
    val stage = new Path(delDir, s".stage-$uuid")
    rows.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = fs.listStatus(stage).map(_.getPath)
      .find(p => p.getName.startsWith("part-") &&
        p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException("no eq-delete part file"))
    val n = FileStats.fromFooter(part.toString,
      StructType(keyFields.map(_._1)),
      spark.sparkContext.hadoopConfiguration).rows
    val target = new Path(delDir, s"$uuid-n$n-eq-deletes.parquet")
    if (fs.exists(target)) fs.delete(target, false)
    require(fs.rename(part, target), s"could not publish $target")
    fs.delete(stage, true)
    (fs.makeQualified(target).toString, n)
  }

  private def writePositionDeletes(spark: SparkSession, fs: FileSystem,
      table: TxTable, dirty: Seq[(TxTable.LiveFile, Seq[String])],
      uuid: String): (String, Long) = {
    import org.apache.spark.sql.functions.{broadcast, col}
    // deterministic name per table version: the tombstone set of an
    // immutable version never changes, so an existing file is the
    // correct one and the whole sidecar rewrite is skipped on
    // re-sync. The name CARRIES the delete-row count (`-n<rows>-`),
    // so the skip path reports it without a Spark count job per
    // re-sync of a DV'd table — zero jobs on a no-op sync.
    val delDir0 = new Path(table.dir, "_iceberg_deletes")
    val CountedName = s"""^\\Q$uuid\\E-n(\\d+)-deletes\\.parquet$$""".r
    val existing = (fs.globStatus(
      new Path(delDir0, s"$uuid-n*-deletes.parquet")) match {
      case null => Array.empty[org.apache.hadoop.fs.FileStatus]
      case a => a
    }).flatMap(st => st.getPath.getName match {
      case CountedName(n) => Some((st.getPath, n.toLong))
      case _ => None
    }).headOption
    existing.foreach { case (p, n) =>
      return (fs.makeQualified(p).toString, n)
    }
    val sidecars = dirty.flatMap(_._2).distinct
    val mapping = dirty.map { case (f, _) =>
      val p = f.path
      (p.substring(p.lastIndexOf('/') + 1),
        fs.makeQualified(new Path(p)).toString)
    }
    import spark.implicits._
    val mapDf = mapping.toDF("_dv_file", "fp")
    // the spec's reserved field-ids, carried as parquet field ids so
    // id-resolving stock readers bind the columns correctly
    val fpMd = new MetadataBuilder()
      .putLong("parquet.field.id", 2147483546L).build()
    val posMd = new MetadataBuilder()
      .putLong("parquet.field.id", 2147483545L).build()
    val rows = spark.read.parquet(sidecars: _*)
      .select("_dv_file", "_dv_pos").distinct()
      .join(broadcast(mapDf), "_dv_file")
      .select(col("fp").as("file_path", fpMd),
        col("_dv_pos").as("pos", posMd))
      .sort("file_path", "pos")
    val delDir = new Path(table.dir, "_iceberg_deletes")
    val stage = new Path(delDir, s".stage-$uuid")
    rows.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = fs.listStatus(stage).map(_.getPath)
      .find(p => p.getName.startsWith("part-") &&
        p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException("no delete part file"))
    // exact row count from the staged part's FOOTER (metadata-only,
    // no second Spark job), carried in the published name
    val n = FileStats.fromFooter(part.toString,
      new StructType().add("file_path", StringType).add("pos", LongType),
      spark.sparkContext.hadoopConfiguration).rows
    val target = new Path(delDir, s"$uuid-n$n-deletes.parquet")
    if (fs.exists(target)) fs.delete(target, false)
    require(fs.rename(part, target), s"could not publish $target")
    fs.delete(stage, true)
    (fs.makeQualified(target).toString, n)
  }

  /** EXPIRE ORPHANED EXPORT METADATA — the `expire_snapshots` /
    * `remove_orphan_files` pairing for the exported tree, metadata
    * side only (data files are graft's own, vacuum owns them): an
    * incremental re-sync supersedes content-hash-named manifests and
    * manifest lists, and graft retention drops whole snapshots —
    * none of which deletes the old bytes. This walks the CURRENT
    * metadata's full reference closure (metadata.json → manifest
    * lists → manifests; delete manifests → position-delete parquets)
    * and removes every unreferenced file under `metadata/` and
    * `_iceberg_deletes/` older than `minAgeMs` (the grace window
    * that keeps a CONCURRENT re-sync's just-written files safe —
    * they are not referenced until its pointer flip).
    *
    * Time travel to every snapshot still IN the metadata is
    * untouched by construction: their whole closure is referenced.
    * Returns (files removed, bytes removed). */
  def expireOrphans(spark: SparkSession, table: TxTable,
      minAgeMs: Long = 10L * 60L * 1000L): (Int, Long) = {
    val root = new Path(table.dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(root, "metadata")
    val hintPath = new Path(metaDir, "version-hint.text")
    require(fs.exists(hintPath),
      s"${table.dir} has no exported Iceberg tree (metadata/version-hint)")
    val hint = {
      val in = fs.open(hintPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    val mdPath = new Path(metaDir, s"v$hint.metadata.json")
    val md = {
      val in = fs.open(mdPath)
      try JsonMethods.parse(
        scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
    def baseName(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val referenced = scala.collection.mutable.Set[String](
      mdPath.getName, hintPath.getName)
    val conf = spark.sparkContext.hadoopConfiguration
    (md \ "snapshots") match {
      case JArray(snaps) => snaps.foreach { s =>
        (s \ "manifest-list") match {
          case JString(lp) =>
            referenced += baseName(lp)
            IcebergImport.readAvro(new Path(lp), conf).foreach { m =>
              val mPath = m.get("manifest_path").toString
              referenced += baseName(mPath)
              val content = Option(m.get("content"))
                .map(_.asInstanceOf[Int]).getOrElse(0)
              // delete manifests reference the position-delete
              // parquets under _iceberg_deletes
              if (content != 0)
                IcebergImport.readAvro(new Path(mPath), conf).foreach { e =>
                  val df = e.get("data_file").asInstanceOf[GenericRecord]
                  referenced += baseName(df.get("file_path").toString)
                }
            }
          case _ => ()
        }
      }
      case _ => ()
    }
    val now = System.currentTimeMillis()
    var files = 0
    var bytes = 0L
    def sweep(dir: Path, keep: String => Boolean): Unit =
      if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (now - st.getModificationTime >= minAgeMs) {
          if (st.isFile && !referenced.contains(n) && !keep(n)) {
            bytes += st.getLen
            files += 1
            fs.delete(st.getPath, false)
          } else if (st.isDirectory && n.startsWith(".stage-")) {
            // a crashed sidecar write's staging dir - never referenced
            files += 1
            fs.delete(st.getPath, true)
          }
        }
      }
    // declared Puffin statistics stay; stats files whose snapshot
    // expired are orphans like any other metadata artifact
    (md \ "statistics") match {
      case JArray(es) => es.foreach { e =>
        (e \ "statistics-path") match {
          case JString(p) => referenced += baseName(p)
          case _ => ()
        }
      }
      case _ => ()
    }
    // metadata/: only export-written shapes are candidates — never a
    // file some other tool parked there. Dot-prefixed `.avro.tmp`
    // names are crashed writeAvro temps: orphaned by construction
    // (the atomic rename never happened), aged out here.
    sweep(metaDir, n => !(n.endsWith(".avro") ||
      n.endsWith(".metadata.json") || n.endsWith(".puffin") ||
      (n.startsWith(".") && n.endsWith(".avro.tmp"))))
    sweep(new Path(root, "_iceberg_deletes"),
      n => !(n.endsWith(".parquet") || n.startsWith(".stage-")))
    (files, bytes)
  }

  /** v3 DELETION VECTORS for one version's dirty set: ONE Puffin
    * file per version (`metadata/dv-v<version>.puffin`) carrying a
    * `deletion-vector-v1` blob per dirty data file, each framed per
    * the v3 spec ([[dvBlobBytes]]) around the portable 64-bit
    * RoaringBitmapArray Delta DVs already serialize. The name is
    * deterministic per immutable version: an existing file is reused
    * by parsing its own footer — zero Spark jobs on a re-sync (the
    * sidecar-count lesson from round 18). Bitmap build is
    * DISTRIBUTED; the driver collects only compressed bitmaps,
    * bounded by DV bytes. Returns (path, fileSize, per-data-file
    * (uri, blobMeta, cardinality)). */
  private def writeDvPuffin(spark: SparkSession, fs: FileSystem,
      dirty: Seq[(TxTable.LiveFile, Seq[String])],
      v: Long, metaDir: Path)
      : (Path, Long, Seq[(String, Puffin.BlobMeta, Long)]) = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val path = new Path(metaDir, s"dv-v$v.puffin")
    def baseOf(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val uriOf: Map[String, String] = dirty.map { case (f, _) =>
      baseOf(f.path) -> fs.makeQualified(new Path(f.path)).toString
    }.toMap
    def fromInfo(info: Puffin.FileInfo)
        : Seq[(String, Puffin.BlobMeta, Long)] =
      info.blobs.map(bm => (bm.properties("referenced-data-file"), bm,
        bm.properties.get("cardinality")
          .flatMap(_.toLongOption).getOrElse(0L)))
    // Reuse an existing file only when every blob validates under the
    // CURRENT framing (spec magic-once); a file written by the
    // pre-round-20 double-magic framing fails CRC here and is
    // rewritten in place of silently serving misframed DVs.
    val reusable: Option[Puffin.FileInfo] =
      if (!fs.exists(path)) None
      else scala.util.Try {
        val info = Puffin.readFooter(fs, path)
        info.blobs.foreach(b => dvBlobVector(Puffin.readBlob(fs, path, b)))
        info
      }.toOption
    if (reusable.isDefined) {
      val info = reusable.get
      (path, info.fileSize, fromInfo(info))
    } else {
      if (fs.exists(path)) fs.delete(path, false)
      import spark.implicits._
      val sidecars = dirty.flatMap(_._2).distinct
      val namesDf = dirty.map { case (f, _) => baseOf(f.path) }
        .toDF("_dv_name")
      val blobs: Seq[(String, Array[Byte], Long)] =
        spark.read.parquet(sidecars: _*)
          .select("_dv_file", "_dv_pos").distinct()
          .join(broadcast(namesDf),
            col("_dv_file") === col("_dv_name"), "left_semi")
          .as[(String, Long)]
          .groupByKey(_._1)
          .mapGroups { (file, it) =>
            val positions = it.map(_._2).toArray.sorted
            (file, DeltaDv.serializeBitmap(positions.iterator),
              positions.length.toLong)
          }.collect().toSeq.sortBy(_._1)
      val snapshotId = 1000L + v
      val snapSeq = 2L * v + 2L
      val blobSpecs = blobs.map { case (b, vec, card) =>
        (Puffin.DeletionVectorV1, Seq.empty[Int], snapshotId, snapSeq,
          dvBlobBytes(vec),
          Map("referenced-data-file" -> uriOf(b),
            "cardinality" -> card.toString))
      }
      val info = Puffin.write(fs, path, blobSpecs)
      (path, info.fileSize, fromInfo(info))
    }
  }

  /** Export the table's RETAINED HISTORY as an Iceberg v2 metadata
    * tree under `table.dir/metadata/`: one snapshot per retained
    * TxTable version (snapshot-id = 1000 + version, so
    * [[IcebergImport]]'s snapshot pinning is the VERSION AS OF
    * analog), each with its own manifest (+ position-delete manifest
    * when that version carried DVs), a snapshot-log in commit order,
    * and a `refs` map — `main` at the head plus every graft TAG whose
    * version is retained (Iceberg tags, the retention-pin twin).
    * Schemas: the CURRENT schema describes all snapshots (older data
    * files simply lack later columns and read as null — the same
    * contract TxTable's own time travel gives for evolution; a
    * dropped column is absent from every snapshot's schema, also
    * matching). Returns the table metadata file's path. */
  def writeIcebergMetadata(spark: SparkSession, table: TxTable,
      /** 2 or 3; 0 (default) = KEEP the published tree's version
        * (else 2) — a stats republish or scheduled re-sync must never
        * silently downgrade a v3 tree to v2. */
      formatVersion: Int = 0,
      /** "position" (default: parquet position deletes / v3 Puffin
        * DVs) or "equality" — tombstones export as EQUALITY deletes
        * on the table's key columns (content=2, the Flink-CDC
        * consumer shape). Equality requires a KEYED table whose
        * tombstoned keys are not live (pure key-deletes, not
        * upsert-superseded rows) — refused otherwise, since a
        * cumulative equality delete would mask the live copy too. */
      deleteMode: String = "position"): String = {
    require(formatVersion == 0 || formatVersion == 2 || formatVersion == 3,
      s"iceberg export supports format versions 2 and 3, got $formatVersion")
    require(deleteMode == "position" || deleteMode == "equality",
      s"deleteMode must be position or equality, got $deleteMode")
    require(deleteMode == "position" || table.keys.nonEmpty,
      "deleteMode=equality requires a keyed table (equality_ids are " +
        "the bucket key); use the default position mode for keyless tables")
    val root = new Path(table.dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootUri = fs.makeQualified(root).toString.stripSuffix("/")
    val metaDir = new Path(root, "metadata")
    fs.mkdirs(metaDir)

    val schema = table.currentSchema
    val nowMs = System.currentTimeMillis()
    // Prior published metadata, parsed once: the spec's table-uuid
    // must survive re-sync (stock readers treat a uuid change as a
    // different table), and retained snapshots must KEEP their
    // published timestamp-ms — restamping to export wall-clock made
    // TIMESTAMP AS OF over the exported tree unstable across
    // re-syncs (a previously valid pin could start refusing or
    // resolve to a different snapshot). Only newly exported
    // snapshots get stamped with this sync's clock.
    val prevMeta: Option[JValue] = {
      val prev = new Path(metaDir, "v1.metadata.json")
      if (!fs.exists(prev)) None
      else scala.util.Try {
        val in = fs.open(prev)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        JsonMethods.parse(txt)
      }.toOption
    }
    val uuid = prevMeta.flatMap(j => (j \ "table-uuid") match {
      case JString(u) if u.nonEmpty => Some(u)
      case _ => None
    }).getOrElse(java.util.UUID.randomUUID().toString)
    val fv: Int =
      if (formatVersion != 0) formatVersion
      else prevMeta.flatMap(j => (j \ "format-version") match {
        case JInt(x) => Some(x.toInt)
        case _       => None
      }).getOrElse(2)
    val prevTs: Map[Long, Long] = prevMeta.map { j =>
      (j \ "snapshots") match {
        case JArray(ss) => ss.flatMap { s =>
          ((s \ "snapshot-id"), (s \ "timestamp-ms")) match {
            case (JInt(id), JInt(ts))   => Some(id.toLong -> ts.toLong)
            case (JInt(id), JLong(ts))  => Some(id.toLong -> ts)
            case (JLong(id), JInt(ts))  => Some(id -> ts.toLong)
            case (JLong(id), JLong(ts)) => Some(id -> ts)
            case _ => None
          }
        }.toMap
        case _ => Map.empty[Long, Long]
      }
    }.getOrElse(Map.empty)
    // monotone floor: Iceberg requires snapshot-log timestamps
    // non-decreasing in commit order. Carried-forward stamps are a
    // prefix <= tsFloor; NEW stamps start strictly above it — which
    // also survives snapshot expiry shrinking the loop index and a
    // backwards wall clock between syncs
    val tsFloor: Long =
      if (prevTs.isEmpty) Long.MinValue else prevTs.values.max
    def tsOf(snapshotId: Long, i: Int): Long =
      prevTs.getOrElse(snapshotId, math.max(nowMs, tsFloor + 1) + i)
    // rows per file from footer stats (exact); a stats-less legacy
    // entry pays one count over just that file — cached across
    // snapshots (history shares most files)
    val rowsCache = scala.collection.mutable.Map.empty[String, Long]
    def rowsOf(f: TxTable.LiveFile): Long =
      rowsCache.getOrElseUpdate(f.path,
        FileStats.fromJson(f.statsJson, schema).map(_.rows)
          .getOrElse(spark.read.schema(schema).parquet(f.path).count()))
    // immutable files: one getFileStatus per distinct path per export
    // call, however many retained versions share the file (content-
    // hash naming builds every version's records each sync)
    val sizeCache = scala.collection.mutable.Map.empty[String, Long]
    def sizeOf(p: String): Long = sizeCache.getOrElseUpdate(p,
      fs.getFileStatus(new Path(p)).getLen)

    val versions = table.versions
    require(versions.nonEmpty, "cannot export a never-committed table")

    // PER-SNAPSHOT SCHEMAS: each exported snapshot declares the
    // schema its version was committed under (schema-id per snapshot
    // — spec time travel reads the names of that epoch). Field ids
    // are assigned from a PHYSICAL-name registry, head schema first
    // (ids 1..n match what single-schema exports wrote), then any
    // column only older versions know (dropped since) extends it —
    // so the same column carries the same id in every schema version.
    val verSchemas: Seq[(Long, StructType)] =
      versions.map(v => v -> table.schemaAtVersion(v))
    val idReg = fieldIdRegistry(table, verSchemas.map(_._2))
    val ids = idReg.map { case (k, (id, _)) => k -> id }.toMap
    def shapeKey(s: StructType): Seq[(String, String, Boolean)] =
      s.fields.toSeq.map(f => (f.name, f.dataType.simpleString, f.nullable))
    // schema-id 0 stays the CURRENT schema (current-schema-id
    // contract below); older distinct shapes number upward
    val distinctShapes = scala.collection.mutable.LinkedHashMap(
      shapeKey(schema) -> 0)
    verSchemas.foreach { case (_, s) =>
      val k = shapeKey(s)
      if (!distinctShapes.contains(k))
        distinctShapes(k) = distinctShapes.size
    }
    val schemaIdOf: Map[Long, Int] =
      verSchemas.map { case (v, s) => v -> distinctShapes(shapeKey(s)) }.toMap
    val schemasJson: Seq[JValue] = {
      // one representative StructType per shape, in id order
      val repOf = scala.collection.mutable.LinkedHashMap(
        0 -> schema)
      verSchemas.foreach { case (_, s) =>
        repOf.getOrElseUpdate(distinctShapes(shapeKey(s)), s); () }
      repOf.toSeq.sortBy(_._1).map { case (sid, s) =>
        schemaJsonWithIds(s, sid, ids, table.physicalFieldName,
          fv >= 3): JValue }
    }

    // HIDDEN PARTITIONING: an iceberg-hash table's bucket layout IS
    // the spec's bucket[N] transform ([[graft.functions
    // .IcebergBucketFn]] — same murmur3, same mod), so it publishes
    // as a real partition spec with per-file partition tuples and
    // manifest-list field summaries: STOCK readers prune manifests
    // and files for key-equality predicates, exactly like
    // [[IcebergImport.readWhere]] does on import. Spec-id 0 stays the
    // empty (unpartitioned) spec — position-delete files scope across
    // buckets and ride it; data manifests use spec-id 1.
    // Spark-hash tables (seed-42 Murmur3, multi-key) cannot be
    // expressed as a spec transform and export unpartitioned as
    // before — never a WRONG spec, only a less pruneable one.
    val bucketSpec: Option[(String, Int, Int)] =
      if (table.bucketHash == TxTable.IcebergBucketHash &&
        table.keys.length == 1)
        idReg.get(table.keys.head.toLowerCase).map { case (srcId, phys) =>
          (s"${phys}_bucket", srcId, table.numBuckets)
        }
      else None
    val PartitionFieldId = 1000
    val bucketSpecFieldsJson: Option[String] = bucketSpec.map {
      case (name, srcId, n) =>
        s"""[{"name":"$name","transform":"bucket[$n]",""" +
          s""""source-id":$srcId,"field-id":$PartitionFieldId}]"""
    }
    val dataEntrySchema: Schema = bucketSpec match {
      case Some((name, _, _)) =>
        manifestEntrySchemaFor(Seq(name -> PartitionFieldId),
          v3Rows = fv >= 3)
      case None =>
        if (fv >= 3) manifestEntrySchemaFor(Nil, v3Rows = true)
        else ManifestEntrySchema
    }
    // v3 manifest lists carry the row-lineage base (field 520)
    val listSchema: Schema =
      if (fv >= 3) ManifestFileSchemaV3 else ManifestFileSchema
    // equality-delete manifest entries carry equality_ids (135)
    val eqEntrySchema: Schema =
      manifestEntrySchemaFor(Nil, eqIds = true)
    val dataSpecId = if (bucketSpec.isDefined) 1 else 0
    val schemaMeta = Map(
      "schema" -> JsonMethods.compact(JsonMethods.render(
        schemaJson(schema, fv >= 3))),
      "schema-id" -> "0",
      "partition-spec" -> bucketSpecFieldsJson.getOrElse("[]"),
      "partition-spec-id" -> dataSpecId.toString,
      "format-version" -> "2")
    // delete manifests stay on the empty spec-id 0
    val deleteMeta = schemaMeta +
      ("partition-spec" -> "[]", "partition-spec-id" -> "0")

    // ---- RENDER MEMO: version-keyed content-hash memoization ----
    // Building every retained version's manifest records each sync
    // (to compute the content-hash names) was O(live files × retained
    // versions) driver CPU. The memo carries prefix → (input
    // fingerprint, published name, length): a manifest whose RENDER
    // INPUTS are unchanged — same files, buckets, zone-map stats and
    // add provenance under the same schema/spec EPOCH — reuses its
    // published name without building a single record, so a no-op
    // re-sync renders nothing and an append re-sync renders O(new
    // versions). Self-invalidation is kept for anything recomputed:
    // a memo miss goes through [[writeAvroOnce]], whose content hash
    // still names the bytes. The epoch hash covers the avro schemas,
    // field-id registry and per-version table schemas; RenderEpoch
    // is bumped when entry RENDERING itself changes shape.
    val memoPath = new Path(metaDir, ".render-memo.json")
    def shaHex(parts: IterableOnce[String]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      parts.iterator.foreach { s =>
        md.update(s.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte)
      }
      md.digest().take(8).map("%02x".format(_)).mkString
    }
    val epochHash = shaHex(
      Iterator(RenderEpoch, dataEntrySchema.toString,
        ManifestEntrySchema.toString) ++
        schemaMeta.toSeq.sortBy(_._1).iterator.map(kv => kv._1 + "=" + kv._2) ++
        verSchemas.iterator.map { case (vv, s) => s"$vv:${s.json}" } ++
        idReg.iterator.map { case (k, (id, phys)) => s"$k:$id:$phys" })
    val memoLoaded: Map[String, (String, String, Long)] =
      if (!fs.exists(memoPath)) Map.empty
      else scala.util.Try {
        val in = fs.open(memoPath)
        val j = try JsonMethods.parse(
          scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
        if ((j \ "epoch") != JString(epochHash))
          Map.empty[String, (String, String, Long)]
        else (j \ "entries") match {
          case JObject(kvs) =>
            val b = Map.newBuilder[String, (String, String, Long)]
            kvs.foreach {
              case (prefix, e: JObject) =>
                ((e \ "fp"), (e \ "name"), (e \ "len")) match {
                  case (JString(fp), JString(n), JInt(l)) =>
                    b += prefix -> ((fp, n, l.toLong))
                  case _ => ()
                }
              case _ => ()
            }
            b.result()
          case _ => Map.empty[String, (String, String, Long)]
        }
      }.getOrElse(Map.empty[String, (String, String, Long)])
    val memoOut =
      scala.collection.mutable.LinkedHashMap.empty[String, (String, String, Long)]
    def memoizedAvro(prefix: String, fp: String, avroSchema: Schema,
        meta: Map[String, String])(mk: => Seq[GenericRecord]): (Path, Long) =
      memoLoaded.get(prefix) match {
        case Some((f0, name, len)) if f0 == fp &&
            fs.exists(new Path(metaDir, name)) =>
          memoOut(prefix) = (fp, name, len)
          (new Path(metaDir, name), len)
        case _ =>
          IcebergExport.manifestRenders.incrementAndGet()
          val (p, len) = writeAvroOnce(fs, metaDir, prefix, avroSchema,
            mk, meta)
          memoOut(prefix) = (fp, p.getName, len)
          (p, len)
      }
    def statsFp(f: TxTable.LiveFile): String =
      if (f.statsJson == null) "" else shaHex(Iterator(f.statsJson))

    // SPEC-TRUE ADD/EXISTING/DELETED MANIFEST SEMANTICS: a data file's
    // entry is ADDED (status 1) only in the snapshot that introduced
    // it; later snapshots REUSE the adding manifest verbatim (the
    // manifest list references it with the ORIGINAL added_snapshot_id
    // and sequence), rewriting a manifest only when one of its files
    // leaves the live set (survivors become EXISTING/status 0 with
    // their add provenance, removed files DELETED/status 2 under the
    // removing snapshot). Consequences, both load-bearing:
    //  - incremental consumers (Iceberg's own incremental append
    //    scan, the graft tail source) see each row ADDED exactly
    //    once — the previous full-liveset-as-ADDED shape double-
    //    served every carried file;
    //  - an append re-sync writes O(new files) manifest bytes, not
    //    O(live files): untouched manifests are referenced by name.
    /** a live data file plus its ADD provenance — entries carry the
      * adding snapshot and sequence forever, per the spec. */
    final case class FileAdd(f: TxTable.LiveFile, addVersion: Long,
        addSnapId: Long, addSeq: Long)
    /** one data manifest as the next snapshot's list sees it: the
      * manifest-list row fields plus the live files it tracks. */
    final case class MfRec(path: Path, len: Long, seq: Long, minSeq: Long,
        addedSnap: Long, added: Int, existing: Int, deleted: Int,
        addedRows: Long, existingRows: Long, deletedRows: Long,
        range: Option[(Int, Int)], files: Seq[FileAdd])

    var lastSeq = 0L
    val verSchemaOf: Map[Long, StructType] = verSchemas.toMap
    val physCache = scala.collection.mutable.Map.empty[Long, StructType]
    var prevMfs: Seq[MfRec] = Nil
    var prevPaths: Set[String] = Set.empty
    // v3 ROW LINEAGE: per-file first_row_id assigned THIS sync (adds
    // at retained versions, in manifest order); published ids always
    // win — see publishedRowIds
    val assignedRowIds = scala.collection.mutable.Map.empty[String, Long]
    var prevDvRows = 0L
    var prevDelMf: Option[(GenericData.Record, String)] = None
    // v3 ROW-LINEAGE id space: ids are assigned once and NEVER
    // reassigned (the spec's contract) — retained snapshots keep
    // their published first-row-id, new snapshots extend from the
    // published next-row-id, and expiry of old versions can never
    // shrink or shift the space
    val prevFirstRowId: Map[Long, Long] = prevMeta.map { j =>
      (j \ "snapshots") match {
        case JArray(ss) => ss.flatMap { s0 =>
          ((s0 \ "snapshot-id"), (s0 \ "first-row-id")) match {
            case (JInt(id), JInt(fr)) => Some(id.toLong -> fr.toLong)
            case _ => None
          }
        }.toMap
        case _ => Map.empty[Long, Long]
      }
    }.getOrElse(Map.empty)
    var nextRowId: Long = prevMeta.flatMap(j =>
      (j \ "next-row-id") match {
        case JInt(x) => Some(x.toLong)
        case _       => None
      }).getOrElse(0L)
    // PUBLISHED per-file row ids (v3): the head snapshot's manifests
    // are the durable record of which range each file was assigned —
    // a re-sync (and especially a re-sync AFTER EXPIRY, which
    // re-attributes surviving files to the first retained snapshot)
    // must keep them, per the spec's no-reassignment rule. One
    // O(live files) driver metadata pass, the same bound the export's
    // own per-version file listing already pays; v2 trees skip it.
    val publishedRowIds: Map[String, Long] =
      if (fv < 3) Map.empty
      else prevMeta.flatMap { j =>
        scala.util.Try {
          val curId = (j \ "current-snapshot-id") match {
            case JInt(x) => x.toLong
            case JLong(x) => x
            case _ => -1L
          }
          val listPath = (j \ "snapshots") match {
            case JArray(ss) => ss.collectFirst {
              case s0 if (s0 \ "snapshot-id") == JInt(curId) ||
                  (s0 \ "snapshot-id") == JLong(curId) =>
                (s0 \ "manifest-list") match {
                  case JString(p) => p
                  case _ => throw new IllegalStateException("no list")
                }
            }.get
            case _ => throw new IllegalStateException("no snapshots")
          }
          val conf = spark.sparkContext.hadoopConfiguration
          IcebergImport.readAvro(new Path(listPath), conf)
            .filter(m => Option(m.get("content"))
              .forall(_.asInstanceOf[Int] == 0))
            .flatMap { m =>
              IcebergImport.readAvro(new Path(m.get("manifest_path").toString), conf)
                .flatMap { e =>
                  val df0 = e.get("data_file")
                    .asInstanceOf[org.apache.avro.generic.GenericRecord]
                  if (df0.getSchema.getField("first_row_id") == null) None
                  else Option(df0.get("first_row_id")).map(id =>
                    df0.get("file_path").toString ->
                      id.asInstanceOf[Number].longValue())
                }
            }.toMap
        }.toOption
      }.getOrElse(Map.empty)
    val snapshots = versions.zipWithIndex.map { case (v, i) =>
      val snapshotId = 1000L + v
      val filesWithDvs = table.fileInfoWithDvsAt(v)
      val files = filesWithDvs.map(_._1)
      val dirty = filesWithDvs.filter(_._1.dvRows > 0L)
      // STABLE sequence numbering: a pure function of the graft
      // VERSION (2v+1 data, 2v+2 deletes — unique, monotonic, gaps
      // are spec-legal), never a running counter over the retained
      // set. A running counter RENUMBERS history after vacuum, and
      // the snapshot-tail stream uses sequences as durable replay
      // offsets — renumbered offsets silently lose rows on restart.
      // Bonus: post-vacuum re-syncs keep every retained manifest's
      // name and content, so they stay no-churn.
      val dataSeq = 2L * v + 1L

      /** one manifest entry; the data_file record renders under the
        * schema of the file's ADD version (its stats epoch). */
      def entryRecord(fa: FileAdd, status: Int,
          statusSnap: Long): GenericRecord = {
        val f = fa.f
        val aSchema = verSchemaOf.getOrElse(fa.addVersion, schema)
        val aPhysSchema = physCache.getOrElseUpdate(fa.addVersion,
          table.physicalize(aSchema))
        val df = new GenericData.Record(
          dataEntrySchema.getField("data_file").schema())
        val qPath = fs.makeQualified(new Path(f.path)).toString
        df.put("content", 0)
        df.put("file_path", qPath)
        df.put("file_format", "PARQUET")
        // v3 ROW LINEAGE: every entry carries its EXPLICIT first_row_id
        // (explicit values make rewrite manifests order-independent —
        // null-inheritance would shift later files' ids whenever a
        // dropped file changes manifest order)
        if (fv >= 3)
          assignedRowIds.get(qPath).orElse(publishedRowIds.get(qPath))
            .foreach(id => df.put("first_row_id", java.lang.Long.valueOf(id)))
        val part = new GenericData.Record(
          df.getSchema.getField("partition").schema())
        // partition TUPLE: the file's manifest bucket id IS the spec
        // transform's value for every row inside (same hash)
        bucketSpec.foreach { case (name, _, _) => part.put(name, f.bucket) }
        df.put("partition", part)
        df.put("record_count", rowsOf(f))
        df.put("file_size_in_bytes", sizeOf(f.path))
        putColumnStats(df, FileStats.fromJson(f.statsJson, aPhysSchema),
          aSchema, table.physicalFieldName, ids)
        val e = new GenericData.Record(dataEntrySchema)
        e.put("status", status)
        // spec: ADDED/EXISTING carry the ADDING snapshot; DELETED the
        // REMOVING one; the data sequence is the add sequence always
        e.put("snapshot_id", statusSnap)
        e.put("sequence_number", fa.addSeq)
        e.put("file_sequence_number", fa.addSeq)
        e.put("data_file", df)
        e
      }

      val livePathSet = files.map(_.path).toSet
      val added = files.filterNot(f => prevPaths(f.path))
      val removedCount = (prevPaths -- livePathSet).size
      val dvRowsNow = files.map(_.dvRows).sum

      // this version's ADDED files in their MANIFEST order (bucket-
      // range groups; also the deterministic row-id assignment order)
      val groups: Seq[(Int, Seq[TxTable.LiveFile])] =
        if (added.isEmpty) Nil
        else if (bucketSpec.isEmpty) Seq(0 -> added)
        else {
          val g = math.min(table.numBuckets, ManifestGroups)
          added.groupBy(f => f.bucket * g / table.numBuckets)
            .toSeq.sortBy(_._1)
        }

      val addedRowsTotal = added.map(rowsOf).sum
      val snapFirstRowId =
        prevFirstRowId.getOrElse(snapshotId, nextRowId)
      if (fv >= 3) {
        // v3 ROW LINEAGE assignment: each added file gets the next
        // contiguous range from the snapshot's base, in manifest
        // order — unless a prior export already PUBLISHED its id
        // (spec: ids are never reassigned; expiry re-attributes
        // surviving files to the first retained snapshot, but their
        // published ranges must not move)
        var cursor = snapFirstRowId
        groups.foreach { case (_, gf) =>
          gf.foreach { f =>
            val q = fs.makeQualified(new Path(f.path)).toString
            val id = publishedRowIds.getOrElse(q, cursor)
            assignedRowIds(q) = id
            cursor = math.max(cursor, id + rowsOf(f))
          }
        }
        nextRowId = math.max(nextRowId, cursor)
      }
      nextRowId = math.max(nextRowId, snapFirstRowId + addedRowsTotal)

      // CARRY the previous snapshot's data manifests: untouched ones
      // verbatim (their list row keeps the original added_snapshot_id
      // and sequence); a manifest that lost a file is REWRITTEN once
      // under this snapshot. A manifest whose files ALL died was kept
      // for one snapshot as pure DELETED entries (incremental readers
      // see the removal) and drops out here.
      val carried: Seq[MfRec] = prevMfs.filter(_.files.nonEmpty)
        .zipWithIndex.map { case (m, j) =>
          if (m.files.forall(fa => livePathSet(fa.f.path))) m
          else {
            val (liveFa, deadFa) =
              m.files.partition(fa => livePathSet(fa.f.path))
            val rwFp = shaHex(m.files.iterator.map { fa =>
              val q = fs.makeQualified(new Path(fa.f.path)).toString
              s"${fa.f.path}|${fa.f.bucket}|${statsFp(fa.f)}|" +
                s"${fa.addVersion}|${fa.addSeq}|${fa.addSnapId}|" +
                livePathSet(fa.f.path) + "|fr" +
                assignedRowIds.get(q).orElse(publishedRowIds.get(q))
                  .getOrElse(-1L)
            })
            val (p, len) = memoizedAvro(s"m-v$v-s$dataSeq-rw$j", rwFp,
              dataEntrySchema, schemaMeta + ("content" -> "data"))(
              liveFa.map(fa => entryRecord(fa, 0, fa.addSnapId)) ++
                deadFa.map(fa => entryRecord(fa, 2, snapshotId)))
            val allB = m.files.map(_.f.bucket)
            MfRec(p, len, dataSeq, m.files.map(_.addSeq).min, snapshotId,
              0, liveFa.size, deadFa.size,
              0L, liveFa.map(fa => rowsOf(fa.f)).sum,
              deadFa.map(fa => rowsOf(fa.f)).sum,
              if (bucketSpec.isEmpty) None
              else Some((allB.min, allB.max)),
              liveFa)
          }
        }

      // PARTITIONED tables split this version's ADDED entries into
      // bucket-RANGE manifest groups (`groups` above, ≤ ManifestGroups
      // per version), each with a tight field summary in the manifest
      // list: a stock reader's point query opens 1/G of the manifest
      // bytes instead of every entry — manifest-level pruning, not
      // just file-level. Unpartitioned tables keep one manifest.
      val newMfs: Seq[MfRec] = groups.map { case (g, gf) =>
        val fas = gf.map(f => FileAdd(f, v, snapshotId, dataSeq))
        val gFp = shaHex(gf.iterator.map(f =>
          s"${f.path}|${f.bucket}|${statsFp(f)}|fr" +
            assignedRowIds.getOrElse(
              fs.makeQualified(new Path(f.path)).toString, -1L)))
        val (p, len) = memoizedAvro(s"m-v$v-s$dataSeq-0-g$g", gFp,
          dataEntrySchema, schemaMeta + ("content" -> "data"))(
          fas.map(fa => entryRecord(fa, 1, snapshotId)))
        MfRec(p, len, dataSeq, dataSeq, snapshotId,
          gf.size, 0, 0, gf.map(rowsOf).sum, 0L, 0L,
          if (bucketSpec.isEmpty) None
          else Some((gf.map(_.bucket).min, gf.map(_.bucket).max)),
          fas)
      }
      val allMfs: Seq[MfRec] = carried ++ newMfs

      // This version's tombstones as a position-delete manifest at
      // the NEXT sequence (deletes scope over same-or-lower data) —
      // but CARRIED like the data manifests when the DV state is
      // UNCHANGED: re-attributing an identical delete set to every
      // later snapshot would make a pure append look like a row
      // removal (added_snapshot_id = the append's snapshot), which
      // the tail stream must then refuse. The carried row keeps its
      // original adding snapshot and sequence; genuinely new
      // tombstones supersede the old manifest wholesale (the delete
      // parquet is cumulative).
      val dirtyKey: String = dirty.map { case (f, refs) =>
        f.path + "::" + f.dvRows + "::" + refs.sorted.mkString(";")
      }.sorted.mkString("|")
      val carriedDel: Option[GenericData.Record] = prevDelMf match {
        case Some((row, key)) if dirty.nonEmpty && key == dirtyKey =>
          Some(row)
        case _ => None
      }
      val deletes: Option[(Path, Long, Long, Int)] =
        if (dirty.isEmpty || carriedDel.nonEmpty) None
        else if (deleteMode == "equality") {
          // EQUALITY DELETES (content=2): the outstanding tombstones'
          // KEY VALUES, equality_ids = the table's key columns — the
          // shape Flink-CDC-style key-upsert consumers expect
          val keyFields: Seq[(StructField, Int)] = table.keys.map { k =>
            val f = schema.fields.find(_.name.equalsIgnoreCase(k))
              .getOrElse(throw new IllegalArgumentException(
                s"equality delete key '$k' is not in the current schema"))
            (f, ids(table.physicalFieldName(f).toLowerCase))
          }
          val (eqUri, eqRows) = writeEqualityDeletes(
            spark, fs, table, dirty, s"eq-v$v", keyFields)
          // SOUNDNESS GATE: a cumulative equality delete (sequence
          // above every data file) masks EVERY matching key in the
          // table — if a tombstoned key is still live (its row was
          // upsert-SUPERSEDED, not deleted), the live copy would be
          // masked too. Refuse loudly with the remedy.
          if (eqRows > 0L) {
            import org.apache.spark.sql.functions.broadcast
            val eqKeys = spark.read.parquet(eqUri)
              .toDF(keyFields.map(_._1.name): _*)
            val liveHits = table.readVersion(v)
              .join(broadcast(eqKeys),
                keyFields.map(_._1.name), "left_semi")
              .limit(1).count()
            require(liveHits == 0L,
              s"deleteMode=equality is unsound for version $v of " +
                s"${table.dir}: a tombstoned key is still LIVE (an " +
                "upsert-superseded row), and a cumulative equality " +
                "delete would mask the live copy - export with the " +
                "default position mode instead")
          }
          val df = new GenericData.Record(
            eqEntrySchema.getField("data_file").schema())
          df.put("content", 2) // EQUALITY_DELETES
          df.put("file_path", eqUri)
          df.put("file_format", "PARQUET")
          df.put("partition", new GenericData.Record(
            df.getSchema.getField("partition").schema()))
          df.put("record_count", eqRows)
          df.put("file_size_in_bytes", sizeOf(eqUri))
          df.put("equality_ids", java.util.Arrays.asList(
            keyFields.map(f => Integer.valueOf(f._2)): _*))
          val e = new GenericData.Record(eqEntrySchema)
          e.put("status", 1)
          e.put("snapshot_id", snapshotId)
          e.put("sequence_number", dataSeq + 1)
          e.put("file_sequence_number", dataSeq + 1)
          e.put("data_file", df)
          val (p, len) = writeAvroOnce(fs, metaDir,
            s"m-v$v-s$dataSeq-1", eqEntrySchema, Seq(e),
            deleteMeta + ("content" -> "deletes"))
          Some((p, len, eqRows, 1))
        }
        else if (fv >= 3) {
          // v3 DELETION VECTORS: tombstones as Puffin blobs, one per
          // dirty data file, each located from its own manifest entry
          val (pufPath, pufSize, blobs) =
            writeDvPuffin(spark, fs, dirty, v, metaDir)
          val pufUri = fs.makeQualified(pufPath).toString
          val entries = blobs.map { case (dataUri, bm, card) =>
            val df = new GenericData.Record(
              ManifestEntrySchemaV3.getField("data_file").schema())
            df.put("content", 1) // POSITION_DELETES (DV representation)
            df.put("file_path", pufUri)
            df.put("file_format", "PUFFIN")
            df.put("partition", new GenericData.Record(
              df.getSchema.getField("partition").schema()))
            df.put("record_count", card)
            df.put("file_size_in_bytes", pufSize)
            df.put("referenced_data_file", dataUri)
            df.put("content_offset", bm.offset)
            df.put("content_size_in_bytes", bm.length)
            val e = new GenericData.Record(ManifestEntrySchemaV3)
            e.put("status", 1)
            e.put("snapshot_id", snapshotId)
            e.put("sequence_number", dataSeq + 1)
            e.put("file_sequence_number", dataSeq + 1)
            e.put("data_file", df)
            e: GenericRecord
          }
          val (p, len) = writeAvroOnce(fs, metaDir,
            s"m-v$v-s$dataSeq-1", ManifestEntrySchemaV3, entries,
            deleteMeta + ("content" -> "deletes"))
          Some((p, len, blobs.map(_._3).sum, blobs.size))
        } else {
          val (delUri, delRows) = writePositionDeletes(
            spark, fs, table, dirty, s"del-v$v")
          val df = new GenericData.Record(
            ManifestEntrySchema.getField("data_file").schema())
          df.put("content", 1) // POSITION_DELETES
          df.put("file_path", delUri)
          df.put("file_format", "PARQUET")
          df.put("partition", new GenericData.Record(
            df.getSchema.getField("partition").schema()))
          df.put("record_count", delRows)
          df.put("file_size_in_bytes", sizeOf(delUri))
          val e = new GenericData.Record(ManifestEntrySchema)
          e.put("status", 1)
          e.put("snapshot_id", snapshotId)
          e.put("sequence_number", dataSeq + 1)
          e.put("file_sequence_number", dataSeq + 1)
          e.put("data_file", df)
          val (p, len) = writeAvroOnce(fs, metaDir,
            s"m-v$v-s$dataSeq-1", ManifestEntrySchema, Seq(e),
            deleteMeta + ("content" -> "deletes"))
          Some((p, len, delRows, 1))
        }
      // snapshot sequence is UNCONDITIONALLY 2v+2: making it depend
      // on whether THIS sync wrote a delete manifest (vs carrying
      // one) would let a vacuum that drops the delete-origin version
      // shift the head's sequence — and sequences are the tail
      // stream's committed offsets. Spec-fine: a snapshot's sequence
      // only needs to be >= its contents' (data 2v+1, deletes 2v+2).
      val snapSeq = dataSeq + 1
      lastSeq = snapSeq
      prevMfs = allMfs
      prevPaths = livePathSet
      val dvGrew = dvRowsNow > prevDvRows
      prevDvRows = dvRowsNow

      // HONEST OPERATION SUMMARY (spec-required; what stock streaming
      // readers gate on): layout_only commits — compaction,
      // clustering — are `replace` (row set unchanged); removals or
      // DV growth without adds are `delete`; adds plus removals are
      // `overwrite`; pure adds are `append`.
      val layoutOnly =
        table.commitMeta(v).get("layout_only").contains("true")
      val operation =
        if (i == 0) "append"
        else if (layoutOnly) "replace"
        else if (removedCount == 0 && !dvGrew) "append"
        else if (added.isEmpty) "delete"
        else "overwrite"

      /** int bucket id in the spec's binary single-value form (4-byte
        * little-endian) for field summaries. */
      def intBuf(i: Int): java.nio.ByteBuffer = {
        val b = java.nio.ByteBuffer.allocate(4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(i)
        b.flip(); b
      }
      val dataMfs = allMfs.map { m =>
        val mf = new GenericData.Record(listSchema)
        mf.put("manifest_path", fs.makeQualified(m.path).toString)
        mf.put("manifest_length", m.len)
        mf.put("partition_spec_id", dataSpecId)
        mf.put("content", 0)
        mf.put("sequence_number", m.seq)
        mf.put("min_sequence_number", m.minSeq)
        mf.put("added_snapshot_id", m.addedSnap)
        mf.put("added_files_count", m.added)
        mf.put("existing_files_count", m.existing)
        mf.put("deleted_files_count", m.deleted)
        mf.put("added_rows_count", m.addedRows)
        mf.put("existing_rows_count", m.existingRows)
        mf.put("deleted_rows_count", m.deletedRows)
        if (fv >= 3) {
          // the manifest's row-lineage base: the smallest id any of
          // its files carries (entries are all EXPLICIT, so this is
          // advisory for readers but pinned for audits)
          val mIds = m.files.flatMap { fa =>
            val q = fs.makeQualified(new Path(fa.f.path)).toString
            assignedRowIds.get(q).orElse(publishedRowIds.get(q))
          }
          if (mIds.nonEmpty)
            mf.put("first_row_id", java.lang.Long.valueOf(mIds.min))
        }
        // FIELD SUMMARY per partition field: this group's bucket-id
        // range — what lets a stock reader skip the whole manifest
        m.range.foreach { case (lo, hi) =>
          val arrSchema = listSchema.getField("partitions")
            .schema().getTypes.get(1)
          val arr = new GenericData.Array[GenericRecord](1, arrSchema)
          val s = new GenericData.Record(arrSchema.getElementType)
          s.put("contains_null", false)
          s.put("lower_bound", intBuf(lo))
          s.put("upper_bound", intBuf(hi))
          arr.add(s)
          mf.put("partitions", arr)
        }
        mf
      }
      val delMf: Option[GenericData.Record] = carriedDel.orElse(
        deletes.map { case (p, len, delRows, nFiles) =>
          val m = new GenericData.Record(listSchema)
          m.put("manifest_path", fs.makeQualified(p).toString)
          m.put("manifest_length", len)
          m.put("partition_spec_id", 0)
          m.put("content", 1) // DELETES
          m.put("sequence_number", dataSeq + 1)
          m.put("min_sequence_number", dataSeq + 1)
          m.put("added_snapshot_id", snapshotId)
          m.put("added_files_count", nFiles)
          m.put("existing_files_count", 0)
          m.put("deleted_files_count", 0)
          m.put("added_rows_count", delRows)
          m.put("existing_rows_count", 0L)
          m.put("deleted_rows_count", 0L)
          m
        })
      prevDelMf =
        if (dirty.isEmpty) None else delMf.map(m => (m, dirtyKey))
      val (listPath, _) = writeAvroOnce(fs, metaDir,
        s"snap-$snapshotId-s$snapSeq", listSchema,
        dataMfs ++ delMf, Map(
        "format-version" -> fv.toString,
        "snapshot-id" -> snapshotId.toString,
        "sequence-number" -> snapSeq.toString,
        "parent-snapshot-id" ->
          (if (i == 0) "null" else (1000L + versions(i - 1)).toString)))

      JObject(List(
        "snapshot-id" -> (JLong(snapshotId): JValue),
        "sequence-number" -> (JLong(snapSeq): JValue),
        "timestamp-ms" -> (JLong(tsOf(snapshotId, i)): JValue),
        "manifest-list" ->
          (JString(fs.makeQualified(listPath).toString): JValue),
        "summary" -> (JObject(
          "operation" -> JString(operation),
          "added-data-files" -> JString(added.size.toString),
          "added-records" -> JString(addedRowsTotal.toString),
          "deleted-data-files" -> JString(removedCount.toString)): JValue)) ++
        (if (i == 0) Nil
         else List("parent-snapshot-id" ->
           (JLong(1000L + versions(i - 1)): JValue))) ++
        (if (fv >= 3)
          List("first-row-id" -> (JLong(snapFirstRowId): JValue))
         else Nil) ++
        List("schema-id" -> (JInt(schemaIdOf(v)): JValue)))
    }

    val currentSnapshotId = 1000L + table.currentVersion
    // refs: main at the head, plus every graft tag whose version is
    // retained — the retention-pin twin, as Iceberg tags
    val refs = JObject(
      ("main" -> (JObject(
        "snapshot-id" -> JLong(currentSnapshotId),
        "type" -> JString("branch")): JValue)) ::
      table.tags.toList.sortBy(_._1).collect {
        case (n, v) if versions.contains(v) =>
          n -> (JObject(
            "snapshot-id" -> JLong(1000L + v),
            "type" -> JString("tag")): JValue)
      })

    // Declared Puffin statistics (spec §"Table Statistics"): every
    // stats-<snapshotId>.puffin under metadata/ whose snapshot is
    // retained is declared with its REAL byte extents — the footer
    // is re-parsed here so the declaration can never drift from the
    // file (blob offsets, footer size, ndv properties all come from
    // the file itself). Stats for expired snapshots simply drop out
    // of the declaration; [[writeStatistics]] writes the files.
    val statisticsJson: List[JValue] = {
      val StatsName = "^stats-(\\d+)\\.puffin$".r
      val retained = versions.map(1000L + _).toSet
      (fs.globStatus(new Path(metaDir, "stats-*.puffin")) match {
        case null => Array.empty[org.apache.hadoop.fs.FileStatus]
        case a => a
      }).toList.flatMap { st =>
        st.getPath.getName match {
          case StatsName(sid) if retained(sid.toLong) =>
            scala.util.Try {
              val info = Puffin.readFooter(fs, st.getPath)
              JObject(
                "snapshot-id" -> JLong(sid.toLong),
                "statistics-path" ->
                  JString(fs.makeQualified(st.getPath).toString),
                "file-size-in-bytes" -> JLong(info.fileSize),
                "file-footer-size-in-bytes" -> JLong(info.footerSize),
                "blob-metadata" -> JArray(info.blobs.toList.map { b =>
                  JObject(List(
                    "type" -> (JString(b.blobType): JValue),
                    "snapshot-id" -> (JLong(b.snapshotId): JValue),
                    "sequence-number" -> (JLong(b.sequenceNumber): JValue),
                    "fields" -> (JArray(
                      b.fields.toList.map(JInt(_): JValue)): JValue)) ++
                    (if (b.properties.isEmpty) Nil
                     else List("properties" -> (JObject(
                       b.properties.toList.sortBy(_._1).map { case (k, v) =>
                         k -> (JString(v): JValue) }): JValue)))
                  ): JValue
                })): JValue
            }.toOption
          case _ => None
        }
      }.sortBy(j => (j \ "snapshot-id") match {
        case JLong(x) => x; case JInt(x) => x.toLong; case _ => 0L })
    }

    // table metadata (v2 required fields per spec §"Table Metadata")
    val metadata = JObject(
      List("format-version" -> (JInt(fv): JValue)) ++
      // v3 ROW LINEAGE id space: next-row-id reserves the table's row
      // id range; each snapshot declares its first-row-id base, every
      // data-file entry carries an EXPLICIT first_row_id (142) and
      // each data manifest its base (520). Published ids are never
      // reassigned — re-syncs and expiry keep them (publishedRowIds);
      // a layout-only compaction's rewritten files get FRESH ranges
      // (this engine does not materialize _row_id into data files, so
      // ids cannot survive a row-reordering rewrite — the id space
      // grows instead, which the spec's inheritance rules permit).
      (if (fv >= 3)
        List("next-row-id" -> (JLong(nextRowId): JValue)) else Nil) ++
      List(
      "table-uuid" -> JString(uuid),
      "location" -> JString(rootUri),
      "last-sequence-number" -> JLong(lastSeq),
      "last-updated-ms" -> JLong(nowMs),
      "last-column-id" -> JInt(idReg.size),
      "current-schema-id" -> JInt(0),
      "schemas" -> JArray(schemasJson.toList),
      "default-spec-id" -> JInt(dataSpecId),
      "partition-specs" -> JArray(
        JsonMethods.parse("""{"spec-id":0,"fields":[]}""") ::
          bucketSpecFieldsJson.map(f => JsonMethods.parse(
            s"""{"spec-id":1,"fields":$f}""")).toList),
      "last-partition-id" -> JInt(
        if (bucketSpec.isDefined) PartitionFieldId else 999),
      "default-sort-order-id" -> JInt(0),
      "sort-orders" -> JArray(List(JObject(
        "order-id" -> JInt(0), "fields" -> JArray(Nil)))),
      // the spec's binding for data files WITHOUT parquet field ids
      // (ours): each field id names its parquet column. For renamed
      // columns that is the stable PHYSICAL name — the whole rename
      // story rides this one property, since physical names never
      // change across the exported history's snapshots.
      // registry-wide: every column any retained version knows maps
      // its id to the stable parquet name, so time travel through
      // old schemas binds the same files
      "properties" -> JObject(
        "schema.name-mapping.default" -> JString(
          JsonMethods.compact(JsonMethods.render(JArray(
            idReg.values.toList.map { case (id, phys) =>
              JObject(
                "field-id" -> JInt(id),
                "names" -> JArray(List(JString(phys)))): JValue
            }))))),
      "current-snapshot-id" -> JLong(currentSnapshotId),
      "refs" -> refs,
      "snapshots" -> JArray(snapshots.toList),
      "snapshot-log" -> JArray(versions.zipWithIndex.map { case (v, i) =>
        JObject(
          "timestamp-ms" -> JLong(tsOf(1000L + v, i)),
          "snapshot-id" -> JLong(1000L + v)): JValue
      }.toList),
      "statistics" -> JArray(statisticsJson),
      "metadata-log" -> JArray(Nil)))
    // persist the render memo (temp+rename like every metadata
    // artifact): next sync's no-op path needs it
    locally {
      val memoJson = JsonMethods.compact(JsonMethods.render(JObject(
        "epoch" -> JString(epochHash),
        "entries" -> JObject(memoOut.toList.map { case (k, (fp, n, l)) =>
          k -> (JObject("fp" -> JString(fp), "name" -> JString(n),
            "len" -> JLong(l)): JValue)
        }))))
      val tmp = new Path(metaDir, ".render-memo.json.tmp")
      val mo = fs.create(tmp, true)
      try mo.write(memoJson.getBytes(StandardCharsets.UTF_8))
      finally mo.close()
      if (fs.exists(memoPath)) fs.delete(memoPath, false)
      require(fs.rename(tmp, memoPath), s"could not publish $memoPath")
    }

    val mdPath = new Path(metaDir, "v1.metadata.json")
    val out = fs.create(mdPath, true)
    try out.write(JsonMethods.pretty(JsonMethods.render(metadata))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()

    // HadoopCatalog version pointer — readers resolve v<hint>.metadata.json
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write("1".getBytes(StandardCharsets.UTF_8))
    finally hint.close()
    mdPath.toString
  }

  /** NDV statistics for the CURRENT snapshot as a spec Puffin file
    * (`metadata/stats-<snapshotId>.puffin`): one
    * `apache-datasketches-theta-v1` blob per supported column —
    * REAL Apache DataSketches compact theta sketches (the library
    * Spark itself ships), updated with the spec's single-value byte
    * serialization ([[graft.functions.IcebergValueBytes]]) so a
    * stock engine can UNION our sketches with its own over the same
    * data, plus the recommended `ndv` property for readers (Trino)
    * that consume the estimate without deserializing.
    *
    * Scale: ONE aggregation pass over the snapshot computes every
    * column's sketch (Spark's `theta_sketch_agg` — mergeable,
    * partial-aggregated map-side; the shuffle carries one ≤2^lgK
    * sketch per column per partition, control-plane bytes). The next
    * [[writeIcebergMetadata]] sync declares the file under the
    * spec's `statistics` field with real blob offsets; re-running
    * for the same snapshot overwrites deterministically (a version's
    * content is immutable). Returns the Puffin file's path. */
  /** THE field-id assignment for a table's Iceberg export, shared by
    * [[writeIcebergMetadata]] and [[writeStatistics]] so sketches can
    * never attach to a different id than the declared schema uses:
    * lowercase physical name -> (id, exact-case parquet name), head
    * schema first (ids 1..n in declaration order), then any column
    * only older versions know (dropped since) extends it — the same
    * column carries the same id in every schema version. */
  private[graft] def fieldIdRegistry(table: TxTable,
      verSchemas: Seq[StructType])
      : scala.collection.mutable.LinkedHashMap[String, (Int, String)] = {
    val idReg =
      scala.collection.mutable.LinkedHashMap.empty[String, (Int, String)]
    def regOf(f: StructField): Unit = {
      val phys = table.physicalFieldName(f)
      idReg.getOrElseUpdate(phys.toLowerCase, (idReg.size + 1, phys))
      ()
    }
    table.currentSchema.fields.foreach(regOf)
    verSchemas.reverseIterator.foreach(_.fields.foreach(regOf))
    idReg
  }

  def writeStatistics(spark: SparkSession, table: TxTable,
      lgK: Int = 12): String = {
    import org.apache.spark.sql.functions.theta_sketch_agg
    import graft.functions.IcebergBucketFunctions.iceberg_value_bytes
    import org.apache.spark.sql.functions.col
    val root = new Path(table.dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(root, "metadata")
    fs.mkdirs(metaDir)
    val schema = table.currentSchema
    val v = table.currentVersion
    val snapshotId = 1000L + v
    val snapSeq = 2L * v + 2L // the snapshot's sequence number
    // field ids from THE shared registry ([[fieldIdRegistry]]) — the
    // same assignment writeIcebergMetadata declares, so the sketches
    // attach to the right ids even if registry order ever changes
    // (e.g. a column dropped and re-added across versions)
    val idReg = fieldIdRegistry(table,
      table.versions.map(v => table.schemaAtVersion(v)))
    val targets: Seq[(StructField, Int)] = schema.fields.toSeq
      .map { f =>
        (f, idReg(table.physicalFieldName(f).toLowerCase)._1) }
      .filter { case (f, _) =>
        graft.functions.IcebergValueFn.supported(f.dataType) }
    require(targets.nonEmpty,
      s"no sketchable columns in ${table.dir} (flat " +
        "numeric/temporal/string/binary columns sketch)")
    val aggs = targets.map { case (f, _) =>
      theta_sketch_agg(iceberg_value_bytes(col(f.name)), lgK)
        .as(s"__theta_${f.name}") }
    val row = table.read.agg(aggs.head, aggs.tail: _*).head()
    val blobs = targets.zipWithIndex.map { case ((_, fid), i) =>
      val raw: Array[Byte] =
        if (row.isNullAt(i)) null else row.getAs[Array[Byte]](i)
      val sk =
        if (raw == null || raw.isEmpty)
          org.apache.datasketches.theta.UpdateSketch.builder().build()
            .compact(true, null)
        else org.apache.datasketches.theta.Sketches.heapifySketch(
          org.apache.datasketches.memory.Memory.wrap(raw))
          .compact(true, null) // ordered compact, the blob's wire form
      (Puffin.ThetaV1, Seq(fid), snapshotId, snapSeq, sk.toByteArray,
        Map("ndv" -> math.round(sk.getEstimate).toString))
    }
    val path = new Path(metaDir, s"stats-$snapshotId.puffin")
    Puffin.write(fs, path, blobs)
    fs.makeQualified(path).toString
  }
}
