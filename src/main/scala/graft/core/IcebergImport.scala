package graft.core

import scala.jdk.CollectionConverters._
import scala.io.Source

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** ICEBERG-SPEC IMPORT — the [[DeltaImport]] twin for
  * [[IcebergExport]]: read an Apache Iceberg v1/v2 metadata tree
  * (HadoopCatalog layout, per the published spec at
  * iceberg.apache.org/spec) back to a live file set + Spark schema,
  * and serve it as a DataFrame. With both directions implemented the
  * interop is symmetric and testable as a TRUE round-trip
  * (export → import → row-for-row equality), not just layout checks.
  *
  * Resolution walks the spec's pointer chain exactly as a stock
  * reader does:
  *
  *   metadata/version-hint.text → v<hint>.metadata.json
  *     → current-snapshot-id (or a caller-pinned snapshot id — the
  *       VERSION AS OF analog) → snapshot.manifest-list (avro)
  *     → manifest_file records → manifest avro(s)
  *     → manifest_entry records (status ≠ DELETED) → data_file paths
  *
  * All driver-side METADATA reads, bounded by manifest size — the
  * data files themselves are never touched here; the returned
  * DataFrame scans them under the metadata schema with full Spark
  * parallelism.
  *
  * v2 DELETE FILES are read natively, both kinds:
  *
  *  - POSITION deletes (content=1, no equality_ids): the spec's
  *    delete parquet (`file_path` + `pos`) anti-joins the referenced
  *    files on (file, row_index) — the same plan TxTable's own DV
  *    reads use; only referenced files pay the mask. Position deletes
  *    name their target files EXPLICITLY (a file rewritten after the
  *    delete has a new path the delete cannot reference), so
  *    sequence-number scoping is not needed for them.
  *  - EQUALITY deletes (equality_ids set — the shape streaming CDC
  *    writers like Flink produce): a data row is deleted when its
  *    values on the delete's equality columns null-safe-match any
  *    delete row AND its data sequence number is STRICTLY below the
  *    delete's (per spec — a row written after the delete survives).
  *    Data files carry their sequence as a per-scan-group literal, so
  *    the scoping costs no join; each delete file folds in as one
  *    null-safe anti-join.
  */
object IcebergImport {

  /** One equality-delete file: path, its sequence number, and the
    * equality column NAMES (field ids resolved through the metadata
    * schema). */
  final case class EqDelete(path: String, seq: Long,
      eqColumns: Seq[String])

  final case class Snapshot(snapshotId: Long, schema: StructType,
      files: Seq[String], recordCounts: Seq[Long],
      posDeleteFiles: Seq[String] = Nil,
      eqDeletes: Seq[EqDelete] = Nil,
      /** per-`files` data sequence numbers (equality-delete scoping). */
      dataSeqs: Seq[Long] = Nil,
      /** the schema under the PARQUET column names data files bind by
        * — differs from `schema` only when the metadata carries a
        * `schema.name-mapping.default` renaming (spec: the binding
        * for files without parquet field ids). */
      physSchema: StructType = new StructType(),
      /** per-`files` column stats lifted from the manifest's
        * lower/upper bounds + null counts (None when the writer
        * recorded none) — [[IcebergImport.readWhere]]'s pruning
        * input, keyed by DECLARED column names. */
      fileStats: Seq[Option[FileStats.Stats]] = Nil,
      /** v3 DELETION VECTORS: (referenced data-file basename,
        * portable RoaringBitmapArray bytes) — positions expand on
        * EXECUTORS, the driver holds only compressed bitmaps. */
      dvDeletes: Seq[(String, Array[Byte])] = Nil) {
    def fileSchema: StructType =
      if (physSchema.isEmpty) schema else physSchema
  }

  /** EXACT live row count of a snapshot when the manifests say it:
    * sum of data-file record counts, minus DV cardinalities (the
    * driver already holds the compressed bitmaps — counting is a
    * metadata-bounded decode). Position/equality DELETE FILES make
    * the count unknowable without reading them → None; a wrong
    * count misleads the CBO worse than no count. */
  def rowCount(snap: Snapshot): Option[Long] =
    if (snap.posDeleteFiles.nonEmpty || snap.eqDeletes.nonEmpty) None
    else Some(snap.recordCounts.sum -
      // cardinality summed while decoding — a large DV must never
      // expand to a driver-side positions array just to be counted
      snap.dvDeletes.map(d => DeltaDv.bitmapCardinality(d._2)).sum)

  private def sparkType(t: String): DataType = t match {
    case "boolean"     => BooleanType
    case "int"         => IntegerType
    case "long"        => LongType
    case "float"       => FloatType
    case "double"      => DoubleType
    case "string"      => StringType
    case "binary"      => BinaryType
    case "date"        => DateType
    case "timestamptz" => TimestampType
    case "timestamp"   => TimestampNTZType
    case dec if dec.startsWith("decimal(") =>
      val Array(p, s) = dec.stripPrefix("decimal(").stripSuffix(")")
        .split(",").map(_.trim.toInt)
      DecimalType(p, s)
    // the v3 spec's variant type: served through Spark 4's own
    // parquet variant binding (plain or shredded — spark.read
    // reassembles both)
    case "variant" => org.apache.spark.sql.types.VariantType
    case other => throw new UnsupportedOperationException(
      s"iceberg import does not map type '$other' " +
        "(flat relational schemas only)")
  }

  /** Field-id → name from the metadata schema (equality_ids resolve
    * through this, per spec). */
  private def fieldIdsFrom(j: JValue): Map[Int, String] =
    (j \ "fields") match {
      case JArray(fs) => fs.flatMap { f =>
        ((f \ "id"), (f \ "name")) match {
          case (JInt(id), JString(n)) => Some(id.toInt -> n)
          case _                      => None
        }
      }.toMap
      case _ => Map.empty
    }

  private def schemaFrom(j: JValue): StructType = {
    val fields = (j \ "fields") match {
      case JArray(fs) => fs.map { f =>
        val name = (f \ "name") match { case JString(s) => s
          case _ => throw new IllegalArgumentException("field without name") }
        val required = (f \ "required") match { case JBool(b) => b
          case _ => false }
        val tpe = (f \ "type") match {
          case JString(s) => sparkType(s)
          case _ => throw new UnsupportedOperationException(
            s"iceberg import does not map nested field '$name'")
        }
        StructField(name, tpe, nullable = !required)
      }
      case _ => throw new IllegalArgumentException("schema has no fields")
    }
    StructType(fields)
  }

  /** One manifest column-stats map (spec: avro array of key/value
    * records with int field-id keys, the non-string-key map shape) as
    * (field-id, raw value) pairs; tolerates a true avro map from
    * writers that use string keys, and absence entirely. */
  private def mapPairs(df: GenericRecord, field: String): Seq[(Int, AnyRef)] =
    if (df.getSchema.getField(field) == null) Nil
    else Option(df.get(field)).toSeq.flatMap {
      case l: java.util.List[_] => l.asScala.toSeq.map { r0 =>
        val r = r0.asInstanceOf[GenericRecord]
        r.get("key").asInstanceOf[Number].intValue() ->
          r.get("value").asInstanceOf[AnyRef]
      }
      case m: java.util.Map[_, _] => m.asScala.toSeq.flatMap { case (k, v) =>
        k.toString.toIntOption.map(_ -> v.asInstanceOf[AnyRef]) }
      case _ => Nil
    }

  /** One bound in the spec's binary single-value serialization back
    * into FileStats' comparable domain (integral/date/timestamp →
    * Long, float/double → Double, string/boolean as-is). Unknown
    * types drop the bound — sound: no entry, no skipping. Truncated
    * STRING bounds from foreign writers stay sound as-is: a prefix
    * lower bound is still <= every value, and the spec requires a
    * truncated upper bound to be incremented past the data. */
  private def boundDomain(v: AnyRef, dt: DataType): Option[Any] = {
    val b = (v match {
      case bb: java.nio.ByteBuffer => Some(bb.duplicate())
      case arr: Array[Byte] => Some(java.nio.ByteBuffer.wrap(arr))
      case _ => None
    }).map(_.order(java.nio.ByteOrder.LITTLE_ENDIAN)).getOrElse(return None)
    scala.util.Try[Option[Any]] {
      dt match {
        case ByteType | ShortType | IntegerType | DateType =>
          Some(b.getInt.toLong)
        case LongType | TimestampType | TimestampNTZType => Some(b.getLong)
        case FloatType => Some(b.getFloat.toDouble)
        case DoubleType => Some(b.getDouble)
        case BooleanType => Some(b.get() != 0.toByte)
        case StringType =>
          val s = java.nio.charset.StandardCharsets.UTF_8.decode(b).toString
          // the engine compares strings in UTF-16 order, but Iceberg
          // bounds are ordered by UTF-8 bytes (code points). A
          // surrogate-free bound is STILL unsound when the file's
          // data holds supplementary characters (a file with U+10000
          // and U+E000 gets lower bound U+E000, and col < that bound
          // would wrongly prune the U+10000 row), so apply the same
          // rule FileStats.fromFooter uses: accept only pure-ASCII
          // bounds — the two orders then agree against any literal.
          if (s.forall(_ < 0x80.toChar)) Some(s) else None
        case _ => None
      }
    }.toOption.flatten
  }

  /** A data_file entry's lower/upper bounds + null counts lifted into
    * the engine's zone-map shape (keyed by DECLARED names through the
    * schema's field ids) so [[FileStats.mayMatch]] evaluates
    * predicates against them — the [[DeltaImport]] add-action-stats
    * lift, Iceberg dialect. */
  private def statsFromEntry(df: GenericRecord, rows: Long,
      schema: StructType,
      fieldIds: Map[Int, String]): Option[FileStats.Stats] = {
    val lower = mapPairs(df, "lower_bounds").toMap
    val upper = mapPairs(df, "upper_bounds").toMap
    val nulls = mapPairs(df, "null_value_counts").flatMap { case (k, v) =>
      v match { case n: Number => Some(k -> n.longValue()); case _ => None }
    }.toMap
    if (lower.isEmpty && upper.isEmpty && nulls.isEmpty) return None
    val cols = fieldIds.flatMap { case (id, name) =>
      schema.find(_.name == name).flatMap { f =>
        val mn = lower.get(id).flatMap(boundDomain(_, f.dataType))
        val mx = upper.get(id).flatMap(boundDomain(_, f.dataType))
        val nu = nulls.getOrElse(id, -1L)
        (mn, mx) match {
          case (Some(a), Some(b)) =>
            Some(name -> FileStats.ColStats(Some(a), Some(b), nu))
          case _ if nu == rows && rows >= 0 =>
            // all-null column: provable emptiness without extrema
            Some(name -> FileStats.ColStats(None, None, nu))
          case _ => None
        }
      }
    }
    if (cols.isEmpty) None else Some(FileStats.Stats(rows, cols))
  }

  private[graft] def readAvro(p: Path,
      conf: org.apache.hadoop.conf.Configuration): Seq[GenericRecord] = {
    val in = new FsInput(p, conf)
    val r = new DataFileReader[GenericRecord](in,
      new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toList finally r.close()
  }

  /** Resolve the current (or pinned) snapshot of the Iceberg table at
    * `dir` to (schema, live data files). */
  def snapshot(spark: SparkSession, dir: String,
      snapshotId: Option[Long] = None): Snapshot =
    snapshotWhere(spark, dir, snapshotId, None)

  /** Resolve and parse the CURRENT table metadata JSON through the
    * HadoopCatalog pointer chain (`metadata/version-hint.text` →
    * `vN.metadata.json`) — the one metadata read [[snapshotWhere]],
    * [[lineage]] and the streaming tail source all share. */
  private def readMetadataJson(spark: SparkSession, dir: String): JValue = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val metaDir = new Path(root, "metadata")
    val hintPath = new Path(metaDir, "version-hint.text")
    require(fs.exists(hintPath),
      s"$dir/metadata has no version-hint.text - not a HadoopCatalog " +
        "iceberg table")
    val hint = {
      val in = fs.open(hintPath)
      try Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    val mdPath = new Path(metaDir, s"v$hint.metadata.json")
    require(fs.exists(mdPath), s"version hint points at missing $mdPath")
    val in = fs.open(mdPath)
    try JsonMethods.parse(Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  /** The CURRENT schema (declared names) and its physical twin under
    * `schema.name-mapping.default`, from one metadata.json parse —
    * what the streaming tail source pins at construction. Unlike
    * [[snapshot]] this never opens a manifest: schema resolution
    * must stay O(metadata) however large the table. */
  /** Declared NDV statistics of an Iceberg tree (foreign or our own
    * export): the spec's `statistics` metadata field resolved to a
    * per-COLUMN-NAME distinct-count map. Prefers the entry declared
    * for the CURRENT snapshot, else the newest declared snapshot
    * (ANALYZE semantics everywhere: stats are advisory planner input
    * pinned at their snapshot). Per blob, the recommended `ndv`
    * property is read first; a property-less blob pays one Puffin
    * seek and a DataSketches deserialize to recover the estimate
    * from the `apache-datasketches-theta-v1` sketch itself. Missing/
    * malformed statistics return empty — stats are an optimization,
    * never a gate. Feed the result to
    * [[TxTable.declareColumnAnalysis]] to give an imported table the
    * same CBO treatment ANALYZE gives a native one. */
  def statisticsNdv(spark: SparkSession, dir: String): Map[String, Long] =
    scala.util.Try {
      val md = readMetadataJson(spark, dir)
      val schemaJ = (md \ "schemas", md \ "current-schema-id") match {
        case (JArray(ss), JInt(cur)) =>
          ss.find(s => (s \ "schema-id") == JInt(cur)).getOrElse(md \ "schema")
        case _ => md \ "schema"
      }
      val nameOf: Map[Int, String] = fieldIdsFrom(schemaJ)
      def lng(v: JValue): Option[Long] = v match {
        case JInt(x)  => Some(x.toLong)
        case JLong(x) => Some(x)
        case _        => None
      }
      val current = lng(md \ "current-snapshot-id")
      val entries = (md \ "statistics") match {
        case JArray(es) => es
        case _          => Nil
      }
      // commit order comes from each snapshot's SEQUENCE NUMBER —
      // foreign snapshot ids are random longs, so an id-sort would
      // pick arbitrary stats as "newest"
      val seqOf: Map[Long, Long] = (md \ "snapshots") match {
        case JArray(ss) => ss.flatMap { s0 =>
          (lng(s0 \ "snapshot-id"), lng(s0 \ "sequence-number")) match {
            case (Some(id), Some(q)) => Some(id -> q)
            case _ => None
          }
        }.toMap
        case _ => Map.empty[Long, Long]
      }
      val chosen = entries
        .flatMap(e => lng(e \ "snapshot-id").map(_ -> e))
        .sortBy { case (id, _) => (seqOf.getOrElse(id, -1L), id) } match {
        case Nil => None
        case withIds =>
          current.flatMap(c => withIds.find(_._1 == c).map(_._2))
            .orElse(Some(withIds.last._2))
      }
      chosen.flatMap { e =>
        (e \ "statistics-path") match {
          case JString(p) => Some((e, p))
          case _          => None
        }
      }.map { case (e, path) =>
        val conf = spark.sparkContext.hadoopConfiguration
        val p = new Path(path)
        val fs = p.getFileSystem(conf)
        val blobs = (e \ "blob-metadata") match {
          case JArray(bs) => bs
          case _          => Nil
        }
        blobs.flatMap { b =>
          val isTheta = (b \ "type") match {
            case JString(t) => t == Puffin.ThetaV1
            case _          => false
          }
          val field = (b \ "fields") match {
            case JArray(List(f)) => lng(f).map(_.toInt)
            case _               => None // multi-field blobs: not NDV
          }
          val fromProp = (b \ "properties" \ "ndv") match {
            case JString(n) => n.toLongOption
            case _          => None
          }
          (isTheta, field.flatMap(nameOf.get)) match {
            case (true, Some(name)) =>
              val ndv = fromProp.orElse {
                // no property: one Puffin footer parse + sketch decode
                scala.util.Try {
                  val info = Puffin.readFooter(fs, p)
                  info.blobs.find(bm => bm.blobType == Puffin.ThetaV1 &&
                    bm.fields == field.toList).map { bm =>
                    val bytes = Puffin.readBlob(fs, p, bm)
                    math.round(org.apache.datasketches.theta.Sketches
                      .heapifySketch(org.apache.datasketches.memory
                        .Memory.wrap(bytes)).getEstimate)
                  }
                }.toOption.flatten
              }
              ndv.map(name -> _)
            case _ => None
          }
        }.toMap
      }.getOrElse(Map.empty)
    }.getOrElse(Map.empty)

  def headSchemas(spark: SparkSession, dir: String)
      : (StructType, StructType) = {
    val md = readMetadataJson(spark, dir)
    val schemaJ = (md \ "schemas", md \ "current-schema-id") match {
      case (JArray(ss), JInt(cur)) =>
        ss.find(s => (s \ "schema-id") == JInt(cur)).getOrElse(
          throw new IllegalArgumentException(s"schema-id $cur not found"))
      case _ => md \ "schema"
    }
    val schema = schemaFrom(schemaJ)
    val idOf = fieldIdsFrom(schemaJ).map(_.swap)
    val mappedNames: Map[Int, String] =
      (md \ "properties" \ "schema.name-mapping.default") match {
        case JString(raw) => JsonMethods.parse(raw) match {
          case JArray(es) => es.flatMap { e =>
            ((e \ "field-id"), (e \ "names")) match {
              case (JInt(id), JArray(JString(n) :: _)) => Some(id.toInt -> n)
              case _                                   => None
            }
          }.toMap
          case _ => Map.empty[Int, String]
        }
        case _ => Map.empty[Int, String]
      }
    val phys =
      if (mappedNames.isEmpty) schema
      else StructType(schema.fields.map { f =>
        idOf.get(f.name).flatMap(mappedNames.get) match {
          case Some(n) => f.copy(name = n)
          case None    => f
        }
      })
    (schema, phys)
  }

  /** The metadata's full snapshot inventory for the ops TVF
    * (`graft_iceberg_snapshots`): every snapshot with identity,
    * sequence, commit timestamp, declared operation, parentage and
    * whether it sits on the MAIN lineage (a staged WAP snapshot does
    * not). One metadata.json parse. */
  def snapshotsInfo(spark: SparkSession, dir: String)
      : Seq[(Long, Long, Long, String, Option[Long], Boolean)] = {
    val md = readMetadataJson(spark, dir)
    val onMain: Set[Long] = scala.util.Try(
      lineage(spark, dir).map(_.id).toSet).getOrElse(Set.empty)
    (md \ "snapshots") match {
      case JArray(ss) => ss.flatMap { s =>
        ((s \ "snapshot-id"), (s \ "sequence-number"),
          (s \ "timestamp-ms")) match {
          case (JInt(id), seqJ, tsJ) =>
            val seq = seqJ match { case JInt(x) => x.toLong; case _ => 0L }
            val ts = tsJ match { case JInt(x) => x.toLong; case _ => 0L }
            val op = (s \ "summary" \ "operation") match {
              case JString(o) => o
              case _          => "unknown"
            }
            val parent = (s \ "parent-snapshot-id") match {
              case JInt(p) => Some(p.toLong)
              case _       => None
            }
            Some((id.toLong, seq, ts, op, parent, onMain(id.toLong)))
          case _ => None
        }
      }
      case _ => Nil
    }
  }

  /** TIMESTAMP AS OF resolution, the spec's own timeline: the
    * `snapshot-log`'s newest entry at or before `tsMillis` (each
    * entry is a current-snapshot transition with its commit
    * timestamp). One metadata.json parse. Refuses a timestamp before
    * the earliest logged transition — never rounds forward. */
  def snapshotIdAsOf(spark: SparkSession, dir: String,
      tsMillis: Long): Long = {
    val md = readMetadataJson(spark, dir)
    val log: Seq[(Long, Long)] = (md \ "snapshot-log") match {
      case JArray(es) => es.flatMap { e =>
        ((e \ "timestamp-ms"), (e \ "snapshot-id")) match {
          case (JInt(ts), JInt(id)) => Some(ts.toLong -> id.toLong)
          case _                    => None
        }
      }
      case _ => Nil
    }
    require(log.nonEmpty, s"$dir's metadata has no snapshot-log " +
      "entries - timestamp travel needs the commit timeline")
    val at = log.filter(_._1 <= tsMillis)
    require(at.nonEmpty,
      s"timestamp $tsMillis is before the earliest snapshot-log " +
        s"entry (${log.map(_._1).min}) of $dir")
    at.maxBy(_._1)._2
  }

  /** One snapshot on the MAIN lineage, as the streaming tail source
    * sees it: identity, parentage, its monotonic sequence number (the
    * offset domain), the writer-declared operation, and where its
    * manifests live. */
  final case class SnapMeta(id: Long, parentId: Option[Long], seq: Long,
      operation: String, manifestList: Option[String],
      inlineManifests: Seq[String])

  /** The MAIN branch's retained snapshot lineage, oldest first —
    * walked by `parent-snapshot-id` from the current snapshot, NOT by
    * sorting the `snapshots` array: staged snapshots off the main
    * line (WAP audits, tags on expired forks) carry sequence numbers
    * too, and serving one would stream unpublished rows.
    *
    * Streaming requires format-version 2: v2's monotonic
    * `sequence-number` is the replayable offset; v1 has no ordering
    * a restart could trust (batch [[read]] covers v1).
    *
    * Scale: one metadata.json parse — driver metadata, O(retained
    * snapshots), no data or manifest I/O. */
  def lineage(spark: SparkSession, dir: String): Seq[SnapMeta] = {
    val md = readMetadataJson(spark, dir)
    val fv = (md \ "format-version") match {
      case JInt(v) => v.toInt
      case _ => throw new IllegalArgumentException("no format-version")
    }
    require(fv == 2 || fv == 3,
      s"streaming tail requires format-version 2 or 3 (monotonic " +
        s"sequence numbers are the offset) - this table is v$fv; use " +
        "the batch IcebergImport.read instead")
    val snaps = (md \ "snapshots") match {
      case JArray(ss) => ss
      case _          => Nil
    }
    val byId: Map[Long, JValue] = snaps.flatMap { s =>
      (s \ "snapshot-id") match {
        case JInt(v) => Some(v.toLong -> s)
        case _       => None
      }
    }.toMap
    val currentId: Option[Long] = (md \ "current-snapshot-id") match {
      case JInt(v) if v.toLong >= 0L => Some(v.toLong)
      case _                         => None
    }
    def meta(j: JValue): SnapMeta = {
      val id = (j \ "snapshot-id") match { case JInt(v) => v.toLong
        case _ => throw new IllegalArgumentException("snapshot-id missing") }
      val parent = (j \ "parent-snapshot-id") match {
        case JInt(v) => Some(v.toLong)
        case _       => None
      }
      val seq = (j \ "sequence-number") match {
        case JInt(v) => v.toLong
        case _ => throw new IllegalArgumentException(
          s"v2 snapshot $id carries no sequence-number - malformed")
      }
      val op = (j \ "summary" \ "operation") match {
        case JString(o) => o
        case _          => "unknown"
      }
      val ml = (j \ "manifest-list") match {
        case JString(p) => Some(p)
        case _          => None
      }
      val inline = (j \ "manifests") match {
        case JArray(ms) => ms.collect { case JString(p) => p }
        case _          => Nil
      }
      SnapMeta(id, parent, seq, op, ml, inline)
    }
    val chain = scala.collection.mutable.ListBuffer.empty[SnapMeta]
    var cur = currentId
    while (cur.nonEmpty && byId.contains(cur.get)) {
      val m = meta(byId(cur.get))
      m +=: chain
      cur = m.parentId
    }
    // cur nonEmpty here = the chain walked off the retained set (an
    // expired parent) — legal; the caller decides whether a gap below
    // its start offset matters. Record it by leaving the oldest
    // element's parentId set; a complete history ends with None.
    chain.toList
  }

  /** The data files snapshot `sm` ADDED (entry status 1 whose
    * snapshot-id — explicit or inherited from the manifest's
    * `added_snapshot_id`, per spec — is `sm.id`), plus whether the
    * snapshot also added DELETE manifests (row-removal evidence the
    * streaming source must refuse or skip, never misread as
    * append-only).
    *
    * Scale: opens ONLY the manifests the snapshot itself added
    * (`added_snapshot_id == sm.id`) — per-trigger work is O(new
    * files), never O(table). */
  /** Deleted-files count of a manifest-list row. The spec v2 Avro
    * name is `deleted_files_count`, but Java-written Iceberg
    * manifest lists keep the legacy `deleted_data_files_count` —
    * probe both, or removal evidence in foreign rewritten data
    * manifests silently reads as 0 and mutation detection rests
    * solely on the snapshot summary's operation label. */
  private[graft] def manifestDeletedCount(m: GenericRecord): Long =
    Seq("deleted_files_count", "deleted_data_files_count").collectFirst {
      case f if m.getSchema.getField(f) != null && m.get(f) != null =>
        m.get(f).asInstanceOf[Number].longValue()
    }.getOrElse(0L)

  def addedDataFiles(spark: SparkSession,
      sm: SnapMeta): (Seq[String], Boolean) = {
    val conf = spark.sparkContext.hadoopConfiguration
    require(sm.manifestList.nonEmpty,
      s"snapshot ${sm.id} has no manifest-list (v1 inline-manifest " +
        "layout) - streaming requires v2")
    val listPath = new Path(sm.manifestList.get)
    val manifests = readAvro(listPath, conf)
    def addedBy(m: GenericRecord): Option[Long] =
      if (m.getSchema.getField("added_snapshot_id") == null) None
      else Option(m.get("added_snapshot_id"))
        .map(_.asInstanceOf[Number].longValue())
    def contentOf(m: GenericRecord): Int =
      Option(m.get("content")).map(_.asInstanceOf[Int]).getOrElse(0)
    def deletedCount(m: GenericRecord): Long = manifestDeletedCount(m)
    val mine = manifests.filter(m => addedBy(m).contains(sm.id))
    // removal evidence without opening any avro: a DELETE-file
    // manifest, or a rewritten data manifest carrying DELETED entries
    // (deleted_files_count in its list row)
    val deletesAdded =
      mine.exists(m => contentOf(m) != 0 || deletedCount(m) > 0L)
    val files = mine.filter(m => contentOf(m) == 0).flatMap { m =>
      val mPath = new Path(m.get("manifest_path").toString)
      readAvro(mPath, conf).flatMap { e =>
        val status = e.get("status").asInstanceOf[Int]
        val entrySnap: Option[Long] =
          if (e.getSchema.getField("snapshot_id") == null) None
          else Option(e.get("snapshot_id"))
            .map(_.asInstanceOf[Number].longValue())
        // a null entry snapshot-id INHERITS the manifest's
        // added_snapshot_id (spec inheritance) == sm.id here
        if (status == 1 && entrySnap.forall(_ == sm.id)) {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val fmt = df.get("file_format").toString
          require(fmt.equalsIgnoreCase("PARQUET"),
            s"data file format $fmt unsupported (parquet only)")
          Some(df.get("file_path").toString)
        } else None
      }
    }
    (files, deletesAdded)
  }

  /** Everything snapshot `sm` CHANGED, by kind — the changelog-scan
    * planning unit: data files it added (status 1), data files it
    * removed (status 2 DELETED entries under its id, the rewritten-
    * manifest shape), and the DELETE files it added (split position
    * vs equality — a changelog can resolve position deletes to rows;
    * equality deletes it must refuse). Same scale contract as
    * [[addedDataFiles]]: opens only the manifests `sm` itself added. */
  final case class SnapshotChanges(
      added: Seq[String],
      removed: Seq[String],
      positionDeletes: Seq[String],
      equalityDeletes: Seq[String],
      /** v3 DV blobs the snapshot added: (referenced data file,
        * puffin path, content offset, content size). */
      dvs: Seq[(String, String, Long, Long)] = Nil)

  def snapshotChanges(spark: SparkSession, sm: SnapMeta): SnapshotChanges = {
    val conf = spark.sparkContext.hadoopConfiguration
    require(sm.manifestList.nonEmpty,
      s"snapshot ${sm.id} has no manifest-list (v1 inline-manifest " +
        "layout) - changelog streaming requires v2")
    val listPath = new Path(sm.manifestList.get)
    val manifests = readAvro(listPath, conf)
    def addedBy(m: GenericRecord): Option[Long] =
      if (m.getSchema.getField("added_snapshot_id") == null) None
      else Option(m.get("added_snapshot_id"))
        .map(_.asInstanceOf[Number].longValue())
    def contentOf(m: GenericRecord): Int =
      Option(m.get("content")).map(_.asInstanceOf[Int]).getOrElse(0)
    val mine = manifests.filter(m => addedBy(m).contains(sm.id))
    val added = Seq.newBuilder[String]
    val removed = Seq.newBuilder[String]
    val posDel = Seq.newBuilder[String]
    val eqDel = Seq.newBuilder[String]
    val dvs = Seq.newBuilder[(String, String, Long, Long)]
    mine.foreach { m =>
      val isDeleteManifest = contentOf(m) != 0
      val mPath = new Path(m.get("manifest_path").toString)
      readAvro(mPath, conf).foreach { e =>
        val status = e.get("status").asInstanceOf[Int]
        val entrySnap: Option[Long] =
          if (e.getSchema.getField("snapshot_id") == null) None
          else Option(e.get("snapshot_id"))
            .map(_.asInstanceOf[Number].longValue())
        // null entry snapshot-id inherits the manifest's
        // added_snapshot_id (spec inheritance) == sm.id here
        if (entrySnap.forall(_ == sm.id) && (status == 1 || status == 2)) {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val path = df.get("file_path").toString
          val fmt = df.get("file_format").toString
          if (isDeleteManifest && status == 1 &&
            fmt.equalsIgnoreCase("PUFFIN")) {
            // v3 deletion vector: the entry locates the blob directly
            def lng(f0: String): Long =
              Option(df.get(f0)).map(_.asInstanceOf[Number].longValue())
                .getOrElse(throw new IllegalArgumentException(
                  s"PUFFIN delete entry missing $f0"))
            val ref = Option(df.get("referenced_data_file"))
              .map(_.toString).getOrElse(
                throw new IllegalArgumentException(
                  "PUFFIN delete entry missing referenced_data_file"))
            dvs += ((ref, path, lng("content_offset"),
              lng("content_size_in_bytes")))
          } else {
            require(fmt.equalsIgnoreCase("PARQUET"),
              s"file format $fmt unsupported (parquet and puffin)")
            if (!isDeleteManifest) {
              if (status == 1) added += path else removed += path
            } else if (status == 1) {
              // data_file.content: 1 = POSITION_DELETES, 2 = EQUALITY
              val c = Option(df.get("content"))
                .map(_.asInstanceOf[Number].intValue()).getOrElse(1)
              if (c == 2) eqDel += path else posDel += path
            }
          }
        }
      }
    }
    SnapshotChanges(added.result(), removed.result(),
      posDel.result(), eqDel.result(), dvs.result())
  }

  /** [[snapshot]] with PARTITION PRUNING from a predicate: when the
    * table's default spec is a single `bucket[N]` transform and
    * `pred` carries top-level equality/IN conjuncts on the source
    * column, the candidate bucket ids (the spec's murmur3,
    * [[graft.functions.IcebergBucketFn]]) prune BOTH levels the way a
    * stock reader does — whole manifests via the manifest list's
    * field summaries (their avro is never even opened), then files
    * via each entry's partition tuple. Everything else (no spec,
    * other transforms, non-equality predicates, files with no tuple)
    * is kept — pruning is an optimization, never a filter. */
  private def snapshotWhere(spark: SparkSession, dir: String,
      snapshotId: Option[Long],
      pred: Option[org.apache.spark.sql.Column]): Snapshot = {
    val conf = spark.sparkContext.hadoopConfiguration
    val md = readMetadataJson(spark, dir)

    val fv = (md \ "format-version") match {
      case JInt(v) => v.toInt
      case _ => throw new IllegalArgumentException("no format-version")
    }
    require(fv <= 3,
      s"table is format-version $fv - this reader honestly supports v1-v3")

    // schema: current-schema-id into schemas (v2), else legacy "schema"
    val schemaJ = (md \ "schemas", md \ "current-schema-id") match {
      case (JArray(ss), JInt(cur)) =>
        ss.find(s => (s \ "schema-id") == JInt(cur)).getOrElse(
          throw new IllegalArgumentException(s"schema-id $cur not found"))
      case _ => md \ "schema" // v1 single-schema layout
    }
    val headSchema = schemaFrom(schemaJ)
    val headFieldIds = fieldIdsFrom(schemaJ)

    // schema.name-mapping.default (spec): field-id -> parquet column
    // name(s), the binding for data files WITHOUT parquet field ids.
    // When present, the file-side read schema uses the mapped names —
    // renamed columns keep their stable physical parquet name there.
    val mappedNames: Map[Int, String] =
      (md \ "properties" \ "schema.name-mapping.default") match {
        case JString(raw) => JsonMethods.parse(raw) match {
          case JArray(es) => es.flatMap { e =>
            ((e \ "field-id"), (e \ "names")) match {
              case (JInt(id), JArray(JString(n) :: _)) => Some(id.toInt -> n)
              case _                                   => None
            }
          }.toMap
          case _ => Map.empty[Int, String]
        }
        case _ => Map.empty[Int, String]
      }
    val headIdOf: Map[String, Int] = headFieldIds.map(_.swap)
    val headPhysSchema: StructType =
      if (mappedNames.isEmpty) new StructType()
      else StructType(headSchema.fields.map { f =>
        headIdOf.get(f.name).flatMap(mappedNames.get) match {
          case Some(n) => f.copy(name = n)
          case None    => f
        }
      })

    val snaps = (md \ "snapshots") match {
      case JArray(ss) => ss
      case _ => Nil
    }
    // stock HadoopCatalog writers emit current-snapshot-id: -1 (and an
    // empty snapshots array) for a created-but-never-written table —
    // per spec that is a valid EMPTY table, not an error
    val currentId: Option[Long] = (md \ "current-snapshot-id") match {
      case JInt(v) if v.toLong >= 0L => Some(v.toLong)
      case _ => None
    }
    if (snapshotId.isEmpty && currentId.isEmpty)
      return Snapshot(-1L, headSchema, Nil, Nil,
        physSchema = headPhysSchema)
    val wantedId: Long = snapshotId.orElse(currentId).get
    val snap = snaps.find(s => (s \ "snapshot-id") match {
      case JInt(v) => v.toLong == wantedId
      case _ => false
    }).getOrElse(throw new IllegalArgumentException(
      s"snapshot $wantedId is not in $dir's metadata (retained: " +
        snaps.flatMap(s => (s \ "snapshot-id").toOption).mkString(", ") + ")"))

    // the default partition spec, when it is a single bucket[N]
    // transform — the one shape this reader prunes by (v1 legacy
    // single-spec layouts and other transforms read unpruned)
    val bucketSpec: Option[(String, Int, Int)] = {
      val BucketRe = """bucket\[(\d+)\]""".r
      (md \ "partition-specs", md \ "default-spec-id") match {
        case (JArray(specs), JInt(dsi)) =>
          specs.find(s => (s \ "spec-id") == JInt(dsi)).flatMap { s =>
            (s \ "fields") match {
              case JArray(List(f)) =>
                ((f \ "name"), (f \ "transform"), (f \ "source-id")) match {
                  case (JString(n), JString(BucketRe(nb)), JInt(src)) =>
                    Some((n, src.toInt, nb.toInt))
                  case _ => None
                }
              case _ => None
            }
          }
        case _ => None
      }
    }
    val defaultSpecId: Option[Int] = (md \ "default-spec-id") match {
      case JInt(i) => Some(i.toInt)
      case _ => None
    }

    // per-snapshot schema (spec time travel): a pinned snapshot reads
    // under the schema-id IT declares — the declared names of its
    // epoch — not the current schema. Field ids are stable across
    // schema versions, so the name mapping still binds the files.
    val (schema, fieldIds, physSchema) = (snap \ "schema-id") match {
      case JInt(sid) if JInt(sid) != (schemaJ \ "schema-id") =>
        val sj = (md \ "schemas") match {
          case JArray(ss) => ss.find(s => (s \ "schema-id") == JInt(sid))
            .getOrElse(throw new IllegalArgumentException(
              s"snapshot $wantedId declares schema-id $sid, absent " +
                "from the schemas list"))
          case _ => schemaJ
        }
        val s2 = schemaFrom(sj)
        val f2 = fieldIdsFrom(sj)
        val id2 = f2.map(_.swap)
        val p2 =
          if (mappedNames.isEmpty) new StructType()
          else StructType(s2.fields.map { f =>
            id2.get(f.name).flatMap(mappedNames.get) match {
              case Some(n) => f.copy(name = n)
              case None    => f
            }
          })
        (s2, f2, p2)
      case _ => (headSchema, headFieldIds, headPhysSchema)
    }

    def asLong(x: AnyRef): Option[Long] = Option(x).map {
      case l: java.lang.Long    => l.longValue
      case i: java.lang.Integer => i.longValue
    }

    // the snapshot's manifests: through the manifest-list file (v2,
    // and v1 tables written with one), or — LEGACY v1 — the inline
    // `manifests` path array in the snapshot JSON itself. Inline
    // manifests are data manifests by definition (v1 has no delete
    // files) with no sequence numbers (v1 semantics: everything 0).
    final case class ManifestRef(path: String, content: Int,
        seq: Option[Long], specId: Option[Int] = None,
        /** the single partition field's bucket-id summary range from
          * the manifest list (field-ids 510/511), when present. */
        partRange: Option[(Int, Int)] = None)
    def leInt(x: AnyRef): Option[Int] = x match {
      case bb: java.nio.ByteBuffer => Some(bb.duplicate()
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt)
      case arr: Array[Byte] => Some(java.nio.ByteBuffer.wrap(arr)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt)
      case _ => None
    }
    val manifests: Seq[ManifestRef] = (snap \ "manifest-list") match {
      case JString(p) =>
        readAvro(new Path(p), conf).map { m =>
          val range: Option[(Int, Int)] =
            if (m.getSchema.getField("partitions") == null) None
            else Option(m.get("partitions")).flatMap {
              case l: java.util.List[_] if l.size() == 1 =>
                val r = l.get(0).asInstanceOf[GenericRecord]
                for {
                  lo <- Option(r.get("lower_bound")).flatMap(leInt)
                  hi <- Option(r.get("upper_bound")).flatMap(leInt)
                } yield (lo, hi)
              case _ => None
            }
          ManifestRef(m.get("manifest_path").toString,
            Option(m.get("content")).map(_.asInstanceOf[Int]).getOrElse(0),
            if (m.getSchema.getField("sequence_number") == null) None
            else asLong(m.get("sequence_number")),
            if (m.getSchema.getField("partition_spec_id") == null) None
            else Option(m.get("partition_spec_id"))
              .map(_.asInstanceOf[Number].intValue()),
            range)
        }
      case _ => (snap \ "manifests") match {
        case JArray(ms) => ms.map {
          case JString(p) => ManifestRef(p, 0, None)
          case other => throw new IllegalArgumentException(
            s"inline manifest entry is not a path string: $other")
        }
        case _ => throw new UnsupportedOperationException(
          "snapshot has neither a manifest-list nor inline manifests")
      }
    }
    // candidate bucket ids from the predicate's equality/IN conjuncts
    // on the spec's source column — None = no pruning possible
    val candidateBuckets: Option[Set[Int]] = for {
      (_, srcId, nb) <- bucketSpec
      p <- pred
      cond <- FileStats.resolvePredicate(spark, schema, p)
      colName <- fieldIds.get(srcId)
      f <- schema.find(_.name == colName)
      vals <- FileStats.equalityConjuncts(cond, schema).get(colName)
      buckets <- scala.util.Try(vals.map(v =>
        graft.functions.IcebergBucketFn.bucketOf(v, f.dataType, nb))
        .toSet).toOption
    } yield buckets
    val (deleteManifests, dataManifests0) =
      manifests.partition(_.content != 0)
    // MANIFEST-level pruning: a data manifest written under the
    // bucket spec whose summary range excludes every candidate bucket
    // is never even opened (null-partitioned rows cannot satisfy an
    // equality on the source column, so contains_null is irrelevant)
    // Pruning applies ONLY to manifests provably on the DEFAULT spec:
    // after partition evolution (bucket[8] -> bucket[16]) an older
    // spec's tuples were computed with a DIFFERENT modulus, and
    // testing them against the default spec's candidate ids would
    // silently drop matching rows. No spec-id (legacy shapes) also
    // means no proof — keep, never prune.
    def onDefaultSpec(sid: Option[Int]): Boolean =
      sid.isDefined && sid == defaultSpecId
    val dataManifests = candidateBuckets match {
      case None => dataManifests0
      case Some(cs) => dataManifests0.filter { m =>
        (m.partRange, m.specId) match {
          case (Some((lo, hi)), sid) if onDefaultSpec(sid) =>
            cs.exists(b => b >= lo && b <= hi)
          case _ => true
        }
      }
    }

    // sequence number of an entry: its own, else inherited from the
    // manifest's (per spec, null inherits on ADDED entries); v1
    // manifests without the field read as 0
    def entrySeq(m: ManifestRef, e: GenericRecord): Long = {
      def field(r: GenericRecord, n: String): Option[Long] =
        if (r.getSchema.getField(n) == null) None else asLong(r.get(n))
      field(e, "sequence_number").orElse(m.seq).getOrElse(0L)
    }

    // manifests → live data files (status 2 = DELETED drops the row),
    // each with its data sequence number (equality-delete scoping).
    // FILE-level partition pruning: an entry whose partition tuple
    // names a non-candidate bucket drops here; entries with no tuple
    // (unpartitioned manifests, foreign spec shapes) are kept.
    val filesCountsSeqs = dataManifests.flatMap { m =>
      val mPath = new Path(m.path)
      readAvro(mPath, conf).flatMap { e =>
        val status = e.get("status").asInstanceOf[Int]
        if (status == 2) None
        else {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val fmt = df.get("file_format").toString
          require(fmt.equalsIgnoreCase("PARQUET"),
            s"data file format $fmt unsupported (parquet only)")
          val fileBucket: Option[Int] = for {
            (fname, _, _) <- bucketSpec
            // same spec-id proof as the manifest level: a tuple from
            // another spec epoch used a different modulus
            if onDefaultSpec(m.specId)
            pr = df.getSchema.getField("partition")
            if pr != null
            rec <- Option(df.get("partition"))
              .collect { case r: GenericRecord => r }
            if rec.getSchema.getField(fname) != null
            v <- Option(rec.get(fname))
          } yield v.asInstanceOf[Number].intValue()
          val pruned = (candidateBuckets, fileBucket) match {
            case (Some(cs), Some(b)) => !cs(b)
            case _ => false
          }
          if (pruned) None
          else {
            val rc = df.get("record_count").asInstanceOf[Long]
            Some((df.get("file_path").toString, rc, entrySeq(m, e),
              statsFromEntry(df, rc, schema, fieldIds)))
          }
        }
      }
    }

    // delete manifests → live delete files, split by kind: an entry
    // with equality_ids is an EQUALITY delete (ids resolve to column
    // names through the schema), anything else must be POSITION
    val posDeletes = scala.collection.mutable.ArrayBuffer.empty[String]
    val eqDeletes = scala.collection.mutable.ArrayBuffer.empty[EqDelete]
    val dvDeletes =
      scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    deleteManifests.foreach { m =>
      val mPath = new Path(m.path)
      readAvro(mPath, conf).foreach { e =>
        val status = e.get("status").asInstanceOf[Int]
        if (status != 2) {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val fmt = df.get("file_format").toString
          if (fmt.equalsIgnoreCase("PUFFIN")) {
            // v3 DELETION VECTOR: one blob per referenced data file,
            // located by (content_offset, content_size_in_bytes); the
            // driver reads only the compressed blob bytes
            def lng(f0: String): Long =
              Option(df.get(f0)).map(_.asInstanceOf[Number].longValue())
                .getOrElse(throw new IllegalArgumentException(
                  s"PUFFIN delete entry missing $f0"))
            val ref = Option(df.get("referenced_data_file"))
              .map(_.toString).getOrElse(
                throw new IllegalArgumentException(
                  "PUFFIN delete entry missing referenced_data_file"))
            val pufPath = new Path(df.get("file_path").toString)
            val in = pufPath.getFileSystem(conf).open(pufPath)
            val blob = new Array[Byte](lng("content_size_in_bytes").toInt)
            try in.readFully(lng("content_offset"), blob)
            finally in.close()
            dvDeletes += ((ref.substring(ref.lastIndexOf('/') + 1),
              IcebergExport.dvBlobVector(blob)))
          } else {
            require(fmt.equalsIgnoreCase("PARQUET"),
              s"delete file format $fmt unsupported (parquet and puffin)")
            val content = Option(df.get("content"))
              .map(_.asInstanceOf[Int]).getOrElse(0)
            val eqIds: Seq[Int] =
              if (df.getSchema.getField("equality_ids") == null) Nil
              else Option(df.get("equality_ids")) match {
                case Some(l: java.util.List[_]) =>
                  l.asScala.toSeq.map(_.asInstanceOf[Number].intValue())
                case _ => Nil
              }
            if (content == 2 || eqIds.nonEmpty) {
              require(eqIds.nonEmpty,
                s"snapshot $wantedId carries an equality delete with no " +
                  "equality_ids - malformed metadata, refusing")
              val cols = eqIds.map(id => fieldIds.getOrElse(id,
                throw new IllegalArgumentException(
                  s"equality_ids references unknown field id $id")))
              eqDeletes += EqDelete(df.get("file_path").toString,
                entrySeq(m, e), cols)
            } else {
              require(content == 1,
                s"delete manifest entry with content=$content is neither " +
                  "position (1) nor equality (2)")
              posDeletes += df.get("file_path").toString
            }
          }
        }
      }
    }
    Snapshot(wantedId, schema,
      filesCountsSeqs.map(_._1), filesCountsSeqs.map(_._2),
      posDeletes.toSeq, eqDeletes.toSeq, filesCountsSeqs.map(_._3),
      physSchema = physSchema, fileStats = filesCountsSeqs.map(_._4),
      dvDeletes = dvDeletes.toSeq)
  }

  /** Read the current (or pinned) snapshot as a DataFrame under the
    * metadata schema. Position deletes mask MERGE-ON-READ: only the
    * data files a delete file actually references pay the anti-join
    * (one driver-side metadata pass over the delete files' distinct
    * targets decides the split); clean files stream straight
    * through. The tombstones stay a DataFrame end to end — nothing
    * position-shaped is collected. */
  def read(spark: SparkSession, dir: String,
      snapshotId: Option[Long] = None): DataFrame =
    serve(spark, snapshot(spark, dir, snapshotId))

  /** [[read]] with DRIVER-SIDE DATA SKIPPING from the manifests'
    * lower/upper bounds + null counts (the [[DeltaImport.readWhere]]
    * twin): files whose bounds provably exclude `pred` never enter
    * the scan plan — at 100 TB the pruning decision is one metadata
    * pass the import already paid, zero data I/O. Files without
    * recorded stats are always kept (sound), and the surviving scan
    * still applies the full predicate. */
  def readWhere(spark: SparkSession, dir: String, pred: org.apache.spark.sql.Column,
      snapshotId: Option[Long] = None): DataFrame = {
    // partition pruning (manifests + file tuples) happens INSIDE the
    // snapshot resolution; the column-bounds pass below then prunes
    // the survivors, and the scan still applies `pred` exactly
    val s = snapshotWhere(spark, dir, snapshotId, Some(pred))
    val cond = FileStats.resolvePredicate(spark, s.schema, pred)
    val keep: Seq[Boolean] = cond match {
      case None => s.files.map(_ => true)
      case Some(c) => s.files.indices.map { i =>
        s.fileStats.lift(i).flatten match {
          case Some(st) => FileStats.mayMatch(st, c, s.schema)
          case None     => true
        }
      }
    }
    def sel[T](xs: Seq[T]): Seq[T] =
      if (xs.isEmpty) xs else xs.zip(keep).collect { case (x, true) => x }
    serve(spark, s.copy(files = sel(s.files),
      recordCounts = sel(s.recordCounts), dataSeqs = sel(s.dataSeqs),
      fileStats = sel(s.fileStats))).filter(pred)
  }

  private[graft] def serve(spark: SparkSession, s: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, lit, split}
    if (s.files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s.schema)
    // basenames are the join identity (iceberg file names embed
    // UUIDs); full-URI equality would be brittle across the file:/ vs
    // file:/// qualifications different writers emit
    def base(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    def scan(files: Seq[String]): DataFrame =
      spark.read.schema(s.fileSchema).parquet(files: _*)
    // data files bind by the name-mapped (physical) column names;
    // the declared names surface via one positional rename
    def toDeclared(df: DataFrame): DataFrame =
      if (s.physSchema.isEmpty) df else df.toDF(s.schema.fieldNames.toSeq: _*)
    if (s.posDeleteFiles.isEmpty && s.eqDeletes.isEmpty &&
      s.dvDeletes.isEmpty)
      return toDeclared(scan(s.files))
    // the mask is a left anti-join, so duplicate tombstones change no
    // row: neither side is deduplicated (that would shuffle it)
    val parquetTomb =
      if (s.posDeleteFiles.isEmpty) None
      else Some(spark.read.parquet(s.posDeleteFiles: _*)
        .select(
          element_at(split(col("file_path"), "/"), -1).as("_dv_file"),
          col("pos").as("_dv_pos")))
    // v3 DVs: bitmaps expand to positions on EXECUTORS (the Delta DV
    // read plan) and union with the parquet tombstones
    val dvTomb =
      if (s.dvDeletes.isEmpty) None
      else {
        import spark.implicits._
        Some(spark.createDataset(s.dvDeletes)
          .flatMap { case (f, vec) =>
            DeltaDv.deserializeBitmap(vec).iterator.map(p => (f, p)) }
          .toDF("_dv_file", "_dv_pos"))
      }
    val tombOpt = (parquetTomb ++ dvTomb).reduceOption(_ unionByName _)
    val targeted: Set[String] = (parquetTomb
      .map(_.select("_dv_file").distinct()
        .collect().map(_.getString(0)).toSet) // file-count-bounded
      .getOrElse(Set.empty)) ++ s.dvDeletes.map(_._1)

    // position masking, per file group: only referenced files pay
    def scanMasked(files: Seq[String]): DataFrame = {
      val (dirty, clean) = files.partition(f => targeted(base(f)))
      val cleanDf = if (clean.isEmpty) None else Some(scan(clean))
      val dirtyDf =
        if (dirty.isEmpty) None
        else Some(TxTable.maskDeleted(
          TxTable.withRowIdentity(scan(dirty)), tombOpt.get))
      toDeclared((cleanDf.toSeq ++ dirtyDf.toSeq).reduce(_ unionByName _))
    }

    if (s.eqDeletes.isEmpty) scanMasked(s.files)
    else {
      // data files scan grouped BY SEQUENCE, the number riding each
      // group as a literal — equality-delete scoping (strictly-lower
      // data sequence) then costs no join, just a residual predicate
      val bySeq = s.files.zip(s.dataSeqs).groupBy(_._2).toSeq.sortBy(_._1)
      val withSeq = bySeq.map { case (seq, fs) =>
        scanMasked(fs.map(_._1)).withColumn("_gseq", lit(seq))
      }.reduce(_ unionByName _)
      val masked = s.eqDeletes.foldLeft(withSeq) { (df, d) =>
        val delRows = spark.read.parquet(d.path)
          .select(d.eqColumns.map(c =>
            col(c).cast(s.schema(c).dataType).as(s"_del_$c")): _*)
          .dropDuplicates()
        val cond = d.eqColumns
          .map(c => col(c) <=> col(s"_del_$c")).reduce(_ && _) &&
          col("_gseq") < lit(d.seq)
        df.join(delRows, cond, "left_anti")
      }
      masked.drop("_gseq").select(s.schema.map(f => col(f.name)): _*)
    }
  }
}
