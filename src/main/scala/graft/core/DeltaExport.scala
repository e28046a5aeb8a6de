package graft.core

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

/** DELTA-PROTOCOL EXPORT — the interop path the north star names
  * ("table formats like Delta/Iceberg that Spark natively supports"):
  * publish a [[TxTable]] snapshot as a Delta Lake table by writing a
  * `_delta_log` commit file INSIDE the table directory, per the open
  * Delta transaction-log protocol (delta.io PROTOCOL.md). Pure JSON
  * over the manifest — no Delta jars, no data rewrite: the add
  * actions reference the snapshot's existing parquet files by
  * table-relative path, so a Delta reader rooted at `table.dir` reads
  * the same bytes TxTable serves.
  *
  * Protocol is the LOWEST floor the snapshot's content allows:
  * (minReaderVersion 1, minWriterVersion 2) — readable by every Delta
  * client — while the snapshot is plain parquet, and table-features
  * protocol (3, 7) with the `deletionVectors` feature the moment a
  * file carries outstanding DVs. Merge-on-read deletes therefore
  * export NATIVELY: each dirty file's tombstones serialize into the
  * protocol's RoaringBitmapArray format ([[DeltaDv]]) inside one
  * `deletion_vector_<uuid>.bin` per commit, and the add action
  * carries the descriptor — no `materializeDeletes()` full-table
  * rewrite precondition. Shallow-clone foreign file references are
  * still refused (reader-compatibility). Zone maps translate to Delta
  * `add.stats` (numRecords / minValues / maxValues / nullCount) so a
  * Delta reader data-skips exactly where TxTable would; DV'd files
  * mark their stats `tightBounds: false` (extrema may cover deleted
  * rows), per the feature spec.
  *
  * The base export is a SNAPSHOT mirror (commit 00...0.json, the
  * current version); [[syncDeltaLog]] then keeps the log LIVE — each
  * sync appends the next Delta commit as a remove/add DIFF between
  * what the log already says and the table's current snapshot (a file
  * whose DV grew re-adds with the new descriptor; a log that started
  * at floor (1,2) upgrades its protocol action in the same commit the
  * first DV appears), so a stock Delta reader (or [[DeltaImport]])
  * follows the table forward and can time-travel the exported history
  * (VERSION AS OF = replay prefix). The diff is computed from the log
  * itself, not a separate watermark — the log can never drift from
  * what was actually published. Diff cost scales with the CHANGE
  * (untouched files are identical relative paths on both sides),
  * mirroring TxTable's own re-link commits.
  */
object DeltaExport {

  private def fsFor(spark: SparkSession, table: TxTable): (FileSystem, String) = {
    val root = new Path(table.dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(root).toString.stripSuffix("/") + "/")
  }

  private def relative(fs: FileSystem, rootUri: String)(p: String): String = {
    val q = fs.makeQualified(new Path(p)).toString
    require(q.startsWith(rootUri),
      s"foreign file reference $p (shallow clone?) cannot be exported " +
        "as a table-relative Delta add action")
    q.stripPrefix(rootUri)
  }

  private def basename(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  // Delta add.stats: numRecords + min/max/nullCount per column the
  // zone maps cover. Timestamp extrema are omitted (Delta wants ISO
  // strings; the manifest stores comparable micros) — stats are an
  // optimization, absence only costs skipping. DV'd files get
  // tightBounds=false: the extrema were computed over the physical
  // rows and may be wider than the live ones.
  private def deltaStats(statsJson: String, schema: StructType,
      tightBounds: Boolean): Option[String] =
    FileStats.fromJson(statsJson, schema).map { st =>
      import org.apache.spark.sql.types._
      // extrema only for types whose JSON rendering a Delta reader
      // interprets the same way we do: a timestamp's comparable
      // micros would render as a bare number and MISLEAD a reader
      // expecting ISO strings — worse than no stats
      def plainJson(c: String): Boolean =
        schema.find(_.name == c).map(_.dataType).exists {
          case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
              _: FloatType | _: DoubleType | _: StringType |
              _: BooleanType => true
          case _ => false
        }
      def jval(v: Any): Option[JValue] = v match {
        case l: Long    => Some(JLong(l))
        case d: Double  => Some(JDouble(d))
        case s: String  => Some(JString(s))
        case b: Boolean => Some(JBool(b))
        case _          => None
      }
      val statted = st.cols.toSeq.sortBy(_._1)
        .filter { case (c, _) => plainJson(c) }
      val mins = statted.flatMap { case (c, s) =>
        s.min.flatMap(jval).map(c -> _) }
      val maxs = statted.flatMap { case (c, s) =>
        s.max.flatMap(jval).map(c -> _) }
      val nulls = statted.collect { case (c, s) if s.nulls >= 0L =>
        c -> (JLong(s.nulls): JValue) }
      JsonMethods.compact(JsonMethods.render(JObject(List(
        "numRecords" -> JLong(st.rows),
        "minValues" -> JObject(mins.toList),
        "maxValues" -> JObject(maxs.toList),
        "nullCount" -> JObject(nulls.toList)) ++
        (if (tightBounds) Nil
         else List("tightBounds" -> (JBool(false): JValue))))))
    }

  private def dvDescriptor(pathOrInlineDv: String,
      slot: DeltaDv.Slot): JObject =
    JObject(
      "storageType" -> JString("u"),
      "pathOrInlineDv" -> JString(pathOrInlineDv),
      "offset" -> JLong(slot.offset),
      "sizeInBytes" -> JLong(slot.sizeInBytes),
      "cardinality" -> JLong(slot.cardinality))

  private def addAction(fs: FileSystem, rootUri: String, schema: StructType,
      dv: Option[(String, DeltaDv.Slot)],
      /** ROW TRACKING: (baseRowId, defaultRowCommitVersion). */
      rowIds: Option[(Long, Long)])(f: TxTable.LiveFile): JObject = {
    val status = fs.getFileStatus(new Path(f.path))
    JObject("add" -> JObject(List(
      "path" -> JString(relative(fs, rootUri)(f.path)),
      "partitionValues" -> JObject(),
      "size" -> JLong(status.getLen),
      "modificationTime" -> JLong(status.getModificationTime),
      "dataChange" -> JBool(true)) ++
      rowIds.toList.flatMap { case (base, v) => List(
        "baseRowId" -> (JLong(base): JValue),
        "defaultRowCommitVersion" -> (JLong(v): JValue)) } ++
      deltaStats(f.statsJson, schema, tightBounds = dv.isEmpty).map(s =>
        "stats" -> (JString(s): JValue)) ++
      dv.map { case (p, slot) =>
        "deletionVector" -> (dvDescriptor(p, slot): JValue) }))
  }

  /** ROW TRACKING's durable high watermark, the spec's channel: a
    * domainMetadata action on the delta.rowTracking domain. (The
    * same value rides metaData configuration graft.rowIdHighWaterMark
    * for this writer's own recovery, like graft.txVersion.) The value
    * is the HIGHEST ASSIGNED row id (delta-spark convention: -1 when
    * none assigned; the next fresh base is value + 1) — tools that
    * validate watermark == max(baseRowId + numPhysicalRecords - 1)
    * accept the log. */
  private def rowTrackingDomain(hwm: Long): JObject =
    JObject("domainMetadata" -> JObject(
      "domain" -> JString("delta.rowTracking"),
      "configuration" -> JString(s"""{"rowIdHighWaterMark":$hwm}"""),
      "removed" -> JBool(false)))

  /** Lowest protocol expressing the snapshot's content: DVs are a
    * reader+writer feature (the bytes must be masked), CDF a
    * writer-only feature (plain reads don't need it), CHECK
    * constraints the legacy writer-3 floor alone (or the
    * checkConstraints feature when features mode is already on),
    * column mapping the legacy (2,5) floor — readers must bind
    * parquet columns by physicalName — or the `columnMapping`
    * reader+writer feature when features mode is already on. */
  private def protocolAction(withDvs: Boolean, withCdf: Boolean,
      withChecks: Boolean, withMapping: Boolean,
      withVariant: Boolean,
      /** rowTracking + its domainMetadata dependency (writer-only). */
      withRowTracking: Boolean): JObject =
    if (!withDvs && !withCdf && !withVariant && !withRowTracking)
      JObject("protocol" -> JObject(
        "minReaderVersion" -> JInt(if (withMapping) 2 else 1),
        "minWriterVersion" -> JInt(
          if (withMapping) 5 else if (withChecks) 3 else 2)))
    else {
      // variantType is a reader+writer TABLE FEATURE (delta ≥ 3.2):
      // the bytes in the variant struct must be decoded per the
      // published binary spec, so a reader that doesn't know the
      // feature must refuse the table rather than misread it
      val rf = (if (withDvs) List(JString("deletionVectors")) else Nil) ++
        (if (withMapping) List(JString("columnMapping")) else Nil) ++
        (if (withVariant) List(JString("variantType")) else Nil)
      val wf = (if (withDvs) List(JString("deletionVectors")) else Nil) ++
        (if (withCdf) List(JString("changeDataFeed")) else Nil) ++
        (if (withChecks) List(JString("checkConstraints")) else Nil) ++
        (if (withMapping) List(JString("columnMapping")) else Nil) ++
        (if (withVariant) List(JString("variantType")) else Nil) ++
        // rowTracking is writer-only; its watermark rides
        // domainMetadata actions, itself a declared writer feature
        (if (withRowTracking)
          List(JString("rowTracking"), JString("domainMetadata"))
        else Nil)
      val reader =
        if (withDvs || withMapping || withVariant)
          List("minReaderVersion" -> (JInt(3): JValue),
            "readerFeatures" -> (JArray(rf): JValue))
        else List("minReaderVersion" -> (JInt(1): JValue))
      JObject("protocol" -> JObject(reader ++ List(
        "minWriterVersion" -> (JInt(7): JValue),
        "writerFeatures" -> (JArray(wf): JValue))))
    }

  /** Whether any column (top-level or nested) is Spark 4's VARIANT —
    * the schema shape that demands the `variantType` table feature.
    * One detector for the whole engine ([[TxTable.hasVariantType]]). */
  private def hasVariant(dt: org.apache.spark.sql.types.DataType): Boolean =
    TxTable.hasVariantType(dt)

  /** Write-side schema directives a stock writer would need a
    * declared table feature to honor, removed from every exported
    * schemaString: CURRENT_DEFAULT/EXISTS_DEFAULT (column defaults —
    * the allowColumnDefaults feature this log doesn't declare),
    * identity.* (Spark's identity-column keys — Delta's own identity
    * feature uses delta.identity.* plus the identityColumns writer
    * feature, neither of which this log declares; a stock reader
    * reads the VALUES either way) and graft.physical (this engine's
    * internal mapping record; the protocol's delta.columnMapping.*
    * metadata is the exported truth). Applied BEFORE the
    * logged-vs-current schema drift compare in [[syncDeltaLog]], so
    * a defaulted table doesn't re-emit metaData on every sync. */
  private def scrubbed(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .remove("CURRENT_DEFAULT").remove("EXISTS_DEFAULT")
        .remove(TxTable.IdentityStartKey)
        .remove(TxTable.IdentityStepKey)
        .remove(TxTable.IdentityAllowExplicitKey)
        .remove(TxTable.PhysicalNameKey)
        // generated columns: Delta's own key is delta.generationExpression
        // plus the generatedColumns writer feature this log doesn't
        // declare; values are materialized, so stock readers read them
        .remove(TxTable.GeneratedExprKey)
        // sticky field ids ride as delta.columnMapping.id (id mode);
        // the internal key itself never leaves the engine
        .remove(TxTable.FieldIdKey)
      f.copy(metadata = mb.build())
    })

  /** `schema` decorated for Delta columnMapping name mode: EVERY
    * field gets `delta.columnMapping.physicalName` (this engine's
    * stable parquet name) and a `delta.columnMapping.id` — ids reused
    * from `loggedSchema` BY PHYSICAL NAME (the spec demands id
    * stability across commits), fresh columns numbered past the
    * logged maximum. Returns the decorated schema and maxColumnId. */
  private def mappedDeltaSchema(table: TxTable, schema: StructType,
      loggedSchema: Option[StructType]): (StructType, Long) = {
    val loggedIds: Map[String, Long] = loggedSchema.map(_.fields.iterator
      .flatMap { f =>
        if (f.metadata.contains("delta.columnMapping.physicalName") &&
          f.metadata.contains("delta.columnMapping.id"))
          Some(f.metadata.getString("delta.columnMapping.physicalName") ->
            f.metadata.getLong("delta.columnMapping.id"))
        else None
      }.toMap).getOrElse(Map.empty)
    var nextId = if (loggedIds.isEmpty) 0L else loggedIds.values.max
    val fields = schema.fields.map { f =>
      val phys = table.physicalFieldName(f)
      // id-mode tables: the log id MUST be the sticky graft.fieldId -
      // it is what the parquet footers carry; minting a different id
      // would break the footer binding the mode promises
      val id =
        if (f.metadata.contains(TxTable.FieldIdKey))
          f.metadata.getLong(TxTable.FieldIdKey)
        else loggedIds.getOrElse(phys, { nextId += 1; nextId })
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .remove(TxTable.PhysicalNameKey) // graft-internal, not protocol
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id)
        .build()
      f.copy(metadata = mb)
    }
    val maxId = math.max(nextId,
      fields.map(_.metadata.getLong("delta.columnMapping.id")).max)
    (StructType(fields), maxId)
  }

  private def metaDataAction(schema: StructType, dvEnabled: Boolean,
      cdfEnabled: Boolean, txVersion: Option[Long],
      tableId: Option[String] = None,
      checks: Map[String, String],
      mappingMaxId: Option[Long],
      mappingMode: String,
      /** ROW TRACKING: the high watermark (enables the feature and
        * gives this writer its checkpoint-durable recovery channel). */
      rowIdHighWaterMark: Option[Long]): JObject =
    JObject("metaData" -> JObject(
      // the table id is STABLE across the log's life (stock streaming
      // readers track it); only the very first metaData mints one
      "id" -> JString(tableId.getOrElse(
        java.util.UUID.randomUUID().toString)),
      "format" -> JObject("provider" -> JString("parquet"),
        "options" -> JObject()),
      // Delta's schemaString IS the Spark StructType JSON format
      // (callers pass a [[scrubbed]] schema)
      "schemaString" -> JString(schema.json),
      "partitionColumns" -> JArray(Nil),
      // graft.txVersion in CONFIGURATION (not commitInfo) so the CDF
      // sync watermark survives checkpoint bootstrap — checkpoints
      // carry metaData verbatim, commitInfo they drop
      "configuration" -> JObject(
        mappingMaxId.toList.flatMap(mx => List(
          "delta.columnMapping.mode" -> (JString(mappingMode): JValue),
          "delta.columnMapping.maxColumnId" ->
            (JString(mx.toString): JValue))) ++
        (if (dvEnabled)
          List("delta.enableDeletionVectors" -> (JString("true"): JValue))
        else Nil) ++
        (if (cdfEnabled)
          List("delta.enableChangeDataFeed" -> (JString("true"): JValue))
        else Nil) ++
        txVersion.map(v =>
          "graft.txVersion" -> (JString(v.toString): JValue)).toList ++
        rowIdHighWaterMark.toList.flatMap(h => List(
          "delta.enableRowTracking" -> (JString("true"): JValue),
          "graft.rowIdHighWaterMark" -> (JString(h.toString): JValue))) ++
        // graft CHECK constraints as Delta's own (delta.constraints.*)
        // so a stock writer enforces exactly what this engine does —
        // the predicates are plain SQL on both sides
        checks.toList.sortBy(_._1).map { case (n, p) =>
          s"delta.constraints.$n" -> (JString(p): JValue) }),
      "createdTime" -> JLong(System.currentTimeMillis())))

  private def writeCommit(fs: FileSystem, tableDir: String, version: Long,
      actions: Seq[JObject]): String = {
    val logDir = new Path(new Path(tableDir), "_delta_log")
    fs.mkdirs(logDir)
    val commit = new Path(logDir, f"$version%020d.json")
    val out = fs.create(commit, true)
    try out.write(actions
      .map(j => JsonMethods.compact(JsonMethods.render(j)))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    commit.toString
  }

  /** Current files with their DV sidecar paths; foreign references
    * are rejected later by [[relative]]. */
  private def liveFiles(table: TxTable): Seq[(TxTable.LiveFile, Seq[String])] =
    table.currentFileInfoWithDvs

  /** Serialize the outstanding tombstones of `dirty` files into one
    * protocol DV file under the table root. The per-file position
    * sets are built DISTRIBUTED — executors read the sidecars, build
    * and serialize each file's Roaring bitmap, and only the
    * compressed bitmap bytes travel to the driver (descriptor-sized,
    * never the positions) — so a heavily-deleted 100 TB table exports
    * without driver-side position materialization. Returns the
    * encoded UUID (`pathOrInlineDv`) and each file BASENAME's slot. */
  private def writeDvsFor(spark: SparkSession, fs: FileSystem,
      table: TxTable, dirty: Seq[(TxTable.LiveFile, Seq[String])])
      : (String, Map[String, DeltaDv.Slot]) = {
    import spark.implicits._
    val sidecars = dirty.flatMap(_._2).distinct
    val names = dirty.map { case (f, _) => basename(f.path) }.toSet
    // dirty-file membership as a broadcast SEMI-JOIN, not an In-list:
    // at ~10⁵ dirty files a literal isin() bloats the plan and the
    // codegen'd predicate; a semi-join against a names frame stays
    // O(1) in plan size at any dirty-file count
    val namesDf = names.toSeq.toDF("_dv_name")
    val blobs: Seq[(String, (Array[Byte], Long))] =
      spark.read.parquet(sidecars: _*)
        .select("_dv_file", "_dv_pos").distinct()
        .join(org.apache.spark.sql.functions.broadcast(namesDf),
          org.apache.spark.sql.functions.col("_dv_file") ===
            org.apache.spark.sql.functions.col("_dv_name"), "left_semi")
        .as[(String, Long)]
        .groupByKey(_._1)
        .mapGroups { (file, it) =>
          val positions = it.map(_._2).toArray.sorted
          (file, DeltaDv.serializeBitmap(positions.iterator),
            positions.length.toLong)
        }
        .collect().toSeq
        .map { case (f, b, n) => (f, (b, n)) }
    DeltaDv.writeDvFile(fs, table.dir, blobs)
  }

  /** Write `table.dir/_delta_log/00000000000000000000.json` for the
    * current snapshot. With `cdf`, the log advertises Change Data
    * Feed (writer feature + table property) and records the exported
    * TxTable version as the change watermark — CDF readers derive the
    * initial commit's inserts from its add actions, so no change file
    * is written here. Returns the commit file's path. */
  def writeDeltaLog(spark: SparkSession, table: TxTable,
      cdf: Boolean = false,
      /** opt-in ROW TRACKING: adds carry baseRowId /
        * defaultRowCommitVersion, the protocol declares the
        * rowTracking + domainMetadata writer features, and the high
        * watermark rides a delta.rowTracking domainMetadata action. */
      rowTracking: Boolean = false): String = {
    val files = liveFiles(table)
    val (fs, rootUri) = fsFor(spark, table)
    val schema = table.currentSchema
    // renamed columns export as Delta columnMapping NAME mode: every
    // field carries delta.columnMapping.physicalName (this engine's
    // stable parquet name — files need no rewrite) + a stable id, and
    // the add-action stats key by the physical name, per spec
    // id-mode: field-id tables publish delta.columnMapping.mode=id -
    // the log ids ARE the parquet footer ids every staged file of a
    // fieldIds table carries, so id-resolving stock readers (and
    // Iceberg-uniform converts) bind our files directly
    val idMode = table.fieldIds && TxTable.fieldIdsComplete(schema)
    val mapped = table.columnMappingActive || idMode
    val mode = if (idMode) "id" else "name"
    val (metaSchema, maxId) =
      if (mapped) {
        val (m, mx) = mappedDeltaSchema(table, schema, None)
        (scrubbed(m), mx)
      } else (scrubbed(schema), 0L)
    val statsSchema = table.physicalize(schema)
    val dirty = files.filter(_._1.dvRows > 0L)
    val dvSlots: Map[String, (String, DeltaDv.Slot)] =
      if (dirty.isEmpty) Map.empty
      else {
        val (enc, slots) = writeDvsFor(spark, fs, table, dirty)
        slots.map { case (k, v) => k -> (enc, v) }
      }
    // ROW TRACKING: fresh contiguous id ranges in sorted-path order
    // (deterministic); the published watermark is the highest assigned
    // id (hwm counts rows internally; the spec value is hwm - 1)
    val sorted = files.map(_._1).sortBy(_.path)
    def physRows(f: TxTable.LiveFile): Long =
      FileStats.fromJson(f.statsJson, statsSchema).map(_.rows)
        .getOrElse(spark.read.parquet(f.path).count())
    var hwm = 0L
    val rowIdOf: Map[String, (Long, Long)] =
      if (!rowTracking) Map.empty
      else sorted.map { f =>
        val base = hwm; hwm += physRows(f)
        f.path -> ((base, 0L))
      }.toMap
    val adds = sorted.map(f =>
      addAction(fs, rootUri, statsSchema, dvSlots.get(basename(f.path)),
        rowIdOf.get(f.path))(f))
    val checks = table.checkConstraints
    writeCommit(fs, table.dir, 0L,
      protocolAction(dirty.nonEmpty, cdf, checks.nonEmpty, mapped,
        hasVariant(schema), withRowTracking = rowTracking) +:
        metaDataAction(metaSchema, dirty.nonEmpty, cdf,
          if (cdf) Some(table.currentVersion) else None,
          checks = checks,
          mappingMaxId = if (mapped) Some(maxId) else None,
          mappingMode = mode,
          rowIdHighWaterMark = if (rowTracking) Some(hwm - 1) else None) +:
        (adds ++ (if (rowTracking) Seq(rowTrackingDomain(hwm - 1)) else Nil)))
  }

  /** The net row-level diff `table.changes(fromTx, toTx)` as Delta
    * CHANGE DATA files under `_change_data/` — table columns plus
    * `_change_type` (insert | delete | update_preimage |
    * update_postimage: graft's CDC vocabulary IS Delta's), written
    * DISTRIBUTED (staged parts rename into place; one `cdc` action
    * per part). Empty diff ⇒ no files, no actions. */
  private def writeChangeData(spark: SparkSession, fs: FileSystem,
      table: TxTable, fromTx: Long, toTx: Long): Seq[JObject] = {
    val diff = table.changes(fromTx, toTx)
    val cols = diff.columns.filterNot(_ == "_change_type") :+ "_change_type"
    val cdDir = new Path(table.dir, "_change_data")
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val stage = new Path(cdDir, s".stage-$uuid")
    // change files bind PHYSICAL names under columnMapping, exactly
    // like the data files (renamed tables only; identity otherwise)
    val cur = table.currentSchema
    def physOf(c: String): String =
      cur.fields.find(_.name == c).map(table.physicalFieldName).getOrElse(c)
    // change files with variant columns stay UNSHREDDED, like the
    // data files: the log declares variantType, not variantShredding
    TxTable.withUnshreddedVariant(spark, cur) {
      diff.select(cols.map(c =>
        org.apache.spark.sql.functions.col(c).as(physOf(c))): _*)
        .write.mode("overwrite").parquet(stage.toString)
    }
    // one footer-driven count decides empty-vs-not (metadata-fast);
    // a zero-row diff publishes nothing
    if (spark.read.parquet(stage.toString).count() == 0L) {
      fs.delete(stage, true)
      return Nil
    }
    val parts = fs.listStatus(stage).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") &&
        p.getName.endsWith(".parquet")).sortBy(_.getName)
    val actions = parts.zipWithIndex.map { case (p, i) =>
      val target = new Path(cdDir, s"cdc-$uuid-$i.parquet")
      require(fs.rename(p, target), s"could not publish $target")
      JObject("cdc" -> JObject(
        "path" -> JString(s"_change_data/${target.getName}"),
        "partitionValues" -> JObject(),
        "size" -> JLong(fs.getFileStatus(target).getLen),
        "dataChange" -> JBool(false)))
    }.toSeq
    fs.delete(stage, true)
    actions
  }

  // ---- checkpoints (PROTOCOL.md "Checkpoints") ----
  //
  // A long-synced log is the protocol's known scale cliff: a stock
  // reader replays EVERY JSON commit from 0. A checkpoint collapses
  // the state at version V into one parquet file
  // (_delta_log/<V pad 20>.checkpoint.parquet, one action per row)
  // plus the _last_checkpoint pointer — readers bootstrap from the
  // parquet and replay only the JSON tail, and the JSON prefix
  // becomes vacuumable.

  private[core] case class CpProtocol(minReaderVersion: Int, minWriterVersion: Int,
      readerFeatures: Option[Seq[String]],
      writerFeatures: Option[Seq[String]])
  private[core] case class CpFormat(provider: String)
  private[core] case class CpMetaData(id: String, format: CpFormat,
      schemaString: String, partitionColumns: Seq[String],
      configuration: Map[String, String], createdTime: Long)
  private[core] case class CpDv(storageType: String, pathOrInlineDv: String,
      offset: Long, sizeInBytes: Long, cardinality: Long)
  private[core] case class CpAdd(path: String, partitionValues: Map[String, String],
      size: Long, modificationTime: Long, dataChange: Boolean,
      stats: Option[String], deletionVector: Option[CpDv],
      baseRowId: Option[Long], defaultRowCommitVersion: Option[Long])
  private[core] case class CpDomainMetadata(domain: String,
      configuration: String, removed: Boolean)
  private[core] case class CpRow(protocol: Option[CpProtocol],
      metaData: Option[CpMetaData], add: Option[CpAdd],
      domainMetadata: Option[CpDomainMetadata] = None)

  /** Checkpoint the log's CURRENT state (not the table's — a
    * checkpoint must equal what replaying the JSON prefix would say,
    * byte for byte in effect, or bootstrapped readers diverge from
    * replaying ones). Writes the parquet first, the `_last_checkpoint`
    * pointer LAST — a crash in between strands a valid checkpoint
    * behind a stale pointer, which readers recover from by listing;
    * the reverse order would point at a checkpoint that doesn't
    * exist. `add.stats` and DV descriptors carry through, so a
    * bootstrapped reader data-skips and masks exactly like a
    * replaying one; the protocol row is the LOG's protocol (features
    * included), never a hard-coded floor. Returns the checkpoint
    * file path. */
  def writeCheckpoint(spark: SparkSession, table: TxTable): String = {
    implicit val fmts: org.json4s.Formats = DefaultFormats
    val snap = DeltaImport.snapshot(spark, table.dir)
    val (fs, rootUri) = fsFor(spark, table)
    val logDir = new Path(new Path(table.dir), "_delta_log")
    val metaJ = JsonMethods.parse(snap.metaRaw.getOrElse(
      throw new IllegalStateException("log has no metaData action")))
    val meta = CpMetaData(
      id = (metaJ \ "id").extract[String],
      format = CpFormat("parquet"),
      schemaString = (metaJ \ "schemaString").extract[String],
      partitionColumns = snap.partitionColumns,
      // the JSON metaData action's configuration, carried verbatim
      // (stricter stock readers require the full metaData schema)
      configuration = (metaJ \ "configuration")
        .extractOpt[Map[String, String]].getOrElse(Map.empty),
      createdTime = (metaJ \ "createdTime").extractOpt[Long]
        .getOrElse(System.currentTimeMillis()))
    val rel = relative(fs, rootUri) _
    val p = snap.protocol
    val cpProto = CpProtocol(p.minReaderVersion, p.minWriterVersion,
      if (p.readerFeatures.isEmpty) None else Some(p.readerFeatures),
      if (p.writerFeatures.isEmpty) None else Some(p.writerFeatures))
    // DOMAIN METADATA: the spec requires checkpoints to carry ALL
    // replayed domainMetadata actions forward (the JSON prefix that
    // declared them becomes vacuumable) — including domains a stock
    // writer committed (clustering, its own rowTracking bump), never
    // just a re-synthesized delta.rowTracking. Tombstones (removed =
    // true) carry verbatim; the synthesized rowTracking row remains
    // only as a fallback for logs this writer exported before the
    // domain action existed.
    val replayedDomains: Seq[CpRow] = snap.domainMetadata.toSeq.sortBy(_._1)
      .map { case (d, (cfg, rm)) =>
        CpRow(None, None, None, Some(CpDomainMetadata(d, cfg, rm))) }
    val rtFallback: Seq[CpRow] =
      if (snap.domainMetadata.contains("delta.rowTracking")) Nil
      else meta.configuration.get("graft.rowIdHighWaterMark").toSeq.map(h =>
        CpRow(None, None, None, Some(CpDomainMetadata(
          "delta.rowTracking",
          s"""{"rowIdHighWaterMark":$h}""", removed = false))))
    val domainRows: Seq[CpRow] = replayedDomains ++ rtFallback
    val rows: Seq[CpRow] =
      CpRow(Some(cpProto), None, None) +:
      CpRow(None, Some(meta), None) +:
      (snap.adds.map(a => CpRow(None, None, Some(CpAdd(
        rel(a.path),
        a.partitionValues.map { case (k, v) => k -> v.orNull },
        a.size, a.modificationTime, dataChange = true, a.stats,
        a.deletionVector.map(d => CpDv(d.storageType, d.pathOrInlineDv,
          d.offset.getOrElse(1L), d.sizeInBytes, d.cardinality)),
        a.baseRowId, a.defaultRowCommitVersion)))) ++ domainRows)
    import spark.implicits._
    val stage = new Path(logDir, s".cp-stage-${snap.version}")
    spark.createDataset(rows).toDF()
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = fs.listStatus(stage).map(_.getPath)
      .find(p => p.getName.startsWith("part-") &&
        p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException("no checkpoint part file"))
    val cpPath = new Path(logDir, f"${snap.version}%020d.checkpoint.parquet")
    // rename-if-absent, never delete-then-rename: a checkpoint at a
    // fixed version is content-idempotent (same log prefix → same
    // state), so if one already exists it IS this content and a
    // concurrent stock reader must never observe the pointed-to file
    // missing mid-swap. Consequence: a checkpoint published by an
    // OLDER writer build (different action schema) at this exact
    // version is kept as-is until the log advances — acceptable,
    // because the JSON tail replay remains authoritative either way
    if (!fs.exists(cpPath))
      require(fs.rename(part, cpPath), s"could not publish $cpPath")
    fs.delete(stage, true)
    val ptr = new Path(logDir, "_last_checkpoint")
    val out = fs.create(ptr, true)
    try out.write(
      s"""{"version":${snap.version},"size":${rows.size}}"""
        .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    cpPath.toString
  }

  /** RETIRE PRE-CHECKPOINT LOG COMMITS — Delta's own log-retention
    * cleanup, for the exported `_delta_log`: every re-sync appends a
    * JSON commit forever, but readers bootstrap from the newest
    * checkpoint, so commits strictly below the OLDEST RETAINED
    * checkpoint (`keepCheckpoints` newest kept, default 2 — the
    * crash margin stock writers keep) are dead weight. Deletes those
    * JSON commits and the superseded checkpoint parquets; a log
    * without a checkpoint is untouched (the full JSON history IS the
    * only bootstrap).
    *
    * Consequences, by design and matching stock semantics: time
    * travel and CDF reads below the cut REFUSE with the gap named
    * (DeltaImport already does); current reads and incremental syncs
    * are unaffected. Returns files removed. */
  def expireLog(spark: SparkSession, table: TxTable,
      keepCheckpoints: Int = 2): Int = {
    require(keepCheckpoints >= 1, "must keep at least one checkpoint")
    val (fs, _) = fsFor(spark, table)
    val logDir = new Path(new Path(table.dir), "_delta_log")
    if (!fs.exists(logDir)) return 0
    val commitRe = "(\\d{20})\\.json".r
    val cpRe = "(\\d{20})\\.checkpoint\\.parquet".r
    val names = fs.listStatus(logDir).toSeq.map(_.getPath)
    val checkpoints = names.flatMap(p => p.getName match {
      case cpRe(v) => Some(v.toLong -> p)
      case _       => None
    }).sortBy(_._1)
    if (checkpoints.isEmpty) return 0
    val kept = checkpoints.takeRight(keepCheckpoints)
    val cut = kept.head._1 // oldest RETAINED checkpoint version
    var removed = 0
    names.foreach { p =>
      p.getName match {
        case commitRe(v) if v.toLong < cut =>
          fs.delete(p, false); removed += 1
        case cpRe(v) if v.toLong < cut =>
          fs.delete(p, false); removed += 1
        case _ => ()
      }
    }
    removed
  }

  /** Append the NEXT Delta commit: the remove/add diff between the
    * published log state and the table's current snapshot (plus a
    * fresh metaData action when the schema evolved, a protocol
    * upgrade when DVs first appear in a floor-(1,2) log, and re-adds
    * for files whose deletion vector GREW — remove + add of the same
    * path with the new descriptor, the protocol's DV-update shape).
    * First call (no log yet) is the full snapshot export. Every
    * `checkpointInterval` commits the new log state is also
    * checkpointed ([[writeCheckpoint]]) so stock readers never replay
    * an unbounded JSON history; 0 disables. Returns the commit path,
    * or None when the log is already current — nothing is written. */
  def syncDeltaLog(spark: SparkSession, table: TxTable,
      checkpointInterval: Int = 10, cdf: Boolean = false,
      rowTracking: Boolean = false): Option[String] = {
    val (fs, rootUri) = fsFor(spark, table)
    if (!fs.exists(new Path(new Path(table.dir), "_delta_log")))
      return Some(writeDeltaLog(spark, table, cdf, rowTracking))
    val logged = DeltaImport.snapshot(spark, table.dir)
    val files = liveFiles(table)
    val schema = table.currentSchema
    // renamed columns ⇒ columnMapping NAME mode. A log synced plain
    // that sees its first rename UPGRADES in this commit (metaData
    // with physicalName+id per field, mode=name, protocol bump) —
    // the mode transition none→name is the one the spec allows, and
    // ids are reused from the logged schema by physical name so they
    // stay stable across syncs.
    val loggedMode: Option[String] = logged.metaRaw.flatMap(raw =>
      (JsonMethods.parse(raw) \ "configuration" \
        "delta.columnMapping.mode") match {
        case JString(m) if m == "name" || m == "id" => Some(m)
        case _ => None
      })
    // mode is sticky: a log synced in name mode stays name (the spec
    // allows none->name on existing data, never name->id - the old
    // files' footers may lack ids); a fresh log from a fieldIds
    // table starts in id mode
    val idMode = table.fieldIds &&
      TxTable.fieldIdsComplete(schema) && !loggedMode.contains("name")
    val mapped = table.columnMappingActive || idMode
    val mode = if (idMode) "id" else "name"
    val loggedMapped =
      logged.protocol.readerFeatures.contains("columnMapping") ||
        loggedMode.isDefined
    val (metaSchema, maxId) =
      if (mapped) {
        val (m, mx) = mappedDeltaSchema(table, schema,
          if (loggedMapped) Some(logged.schema) else None)
        (scrubbed(m), mx)
      } else (scrubbed(schema), 0L)
    val statsSchema = table.physicalize(schema)
    val rel = relative(fs, rootUri) _
    val loggedDvCard: Map[String, Long] = logged.adds.map(a =>
      rel(a.path) -> a.deletionVector.map(_.cardinality).getOrElse(0L)).toMap
    val current = files.map { case (f, sc) => rel(f.path) -> ((f, sc)) }.toMap
    val removed = (loggedDvCard.keySet -- current.keySet).toSeq.sorted
    val added = (current.keySet -- loggedDvCard.keySet).toSeq.sorted
    // a path live on both sides whose tombstone count moved re-adds
    // with the new descriptor (deletes only grow a file's DV; equal
    // cardinality ⇒ identical bitmap). Sidecar double-counting can
    // only OVERSTATE the current count — worst case a spurious
    // identical re-add, never a missed update.
    val dvChanged = (current.keySet & loggedDvCard.keySet).toSeq.sorted
      .filter(p => current(p)._1.dvRows != loggedDvCard(p))
    val schemaChanged = logged.schema != metaSchema
    // constraint drift: the logged delta.constraints.* map vs the
    // table's live CHECK set — a pure addCheckConstraint/drop between
    // syncs must still reach stock writers
    val checks = table.checkConstraints
    val loggedChecks: Map[String, String] = logged.metaRaw.map { raw =>
      JsonMethods.parse(raw) \ "configuration" match {
        case JObject(kvs) => kvs.collect {
          case (k, JString(v)) if k.startsWith("delta.constraints.") =>
            k.stripPrefix("delta.constraints.") -> v
        }.toMap
        case _ => Map.empty[String, String]
      }
    }.getOrElse(Map.empty)
    val checksChanged = checks != loggedChecks
    // enabling CDF on an up-to-date log must still commit — the
    // protocol upgrade and the txVersion watermark are the feed's
    // starting point; a silent no-op would defer them indefinitely
    val enablingCdf =
      cdf && !logged.protocol.writerFeatures.contains("changeDataFeed")
    // ROW TRACKING is sticky once declared; enabling it on an
    // existing log must commit (protocol upgrade + backfill)
    val hadRt = logged.protocol.writerFeatures.contains("rowTracking")
    val rt = rowTracking || hadRt
    val enablingRt = rowTracking && !hadRt
    if (removed.isEmpty && added.isEmpty && dvChanged.isEmpty &&
      !schemaChanged && !checksChanged && !enablingCdf && !enablingRt)
      return None

    // enabling row tracking BACKFILLS every live file (each add is
    // re-committed carrying its assigned base row id, the stock
    // enablement shape); otherwise only the usual add/DV-change set
    val readds =
      if (enablingRt) current.keySet.toSeq.sorted.map(current)
      else (added ++ dvChanged).sorted.map(current)
    val dirty = readds.filter(_._1.dvRows > 0L)
    val dvSlots: Map[String, (String, DeltaDv.Slot)] =
      if (dirty.isEmpty) Map.empty
      else {
        val (enc, slots) = writeDvsFor(spark, fs, table, dirty)
        slots.map { case (k, v) => k -> (enc, v) }
      }
    val nowHasDvs = files.exists(_._1.dvRows > 0L)
    val hadCdf = logged.protocol.writerFeatures.contains("changeDataFeed")
    // a variant column can arrive mid-life (schema evolution): the
    // feature must land in the same commit the evolved metaData does
    val nowVariant = hasVariant(table.currentSchema)
    val hadVariant = logged.protocol.readerFeatures.contains("variantType")
    val upgrade =
      if ((logged.protocol.minReaderVersion < 3 && nowHasDvs) ||
        (cdf && !hadCdf) ||
        (checks.nonEmpty && logged.protocol.minWriterVersion < 3) ||
        (mapped && !loggedMapped) ||
        (nowVariant && !hadVariant) || enablingRt)
        Seq(protocolAction(nowHasDvs, cdf || hadCdf, checks.nonEmpty,
          mapped, nowVariant || hadVariant, withRowTracking = rt))
      else Nil
    // CDF: the diff between the logged TxTable version (metaData
    // configuration graft.txVersion — checkpoint-durable) and the
    // current one, as _change_data files + cdc actions. A log synced
    // WITHOUT cdf that turns it on mid-life starts its feed at this
    // commit (no watermark to diff from).
    val curTx = table.currentVersion
    val loggedMeta = logged.metaRaw.map(JsonMethods.parse(_))
    val loggedId = loggedMeta.flatMap(j => (j \ "id") match {
      case JString(id) => Some(id)
      case _           => None
    })
    val prevTx: Option[Long] = loggedMeta.flatMap { j =>
      (j \ "configuration" \ "graft.txVersion") match {
        case JString(v) => scala.util.Try(v.toLong).toOption
        case _          => None
      }
    }
    val cdcActions =
      if (!cdf) Nil
      else prevTx match {
        case Some(p) if p < curTx =>
          require(table.versions.contains(p),
            s"CDF watermark v$p was vacuumed from ${table.dir} - the " +
              "feed cannot diff from it; re-export the log or vacuum " +
              "with a retention covering the sync cadence")
          writeChangeData(spark, fs, table, p, curTx)
        case _ => Nil
      }
    // ROW TRACKING id assignment: recover the watermark from the
    // logged metaData (checkpoint-durable, like graft.txVersion),
    // KEEP published ids on re-adds (a DV update must not move a
    // file's row ids), give new paths fresh contiguous ranges
    val loggedRowIds: Map[String, (Long, Long)] = logged.adds.flatMap(a =>
      a.baseRowId.map(b => rel(a.path) ->
        ((b, a.defaultRowCommitVersion.getOrElse(0L))))).toMap
    // hwm below is the NEXT FRESH BASE. Recover it from every channel
    // the log offers and take the max — relying on graft's private
    // metaData key alone loses the watermark when a stock writer
    // advanced it through the spec's delta.rowTracking domain, or when
    // a foreign metaData rewrite dropped the graft key; recovering 0
    // would re-assign bases that COLLIDE with published ids.
    //   - delta.rowTracking domainMetadata (the spec channel): the
    //     highest assigned id → next base = value + 1
    //   - graft.rowIdHighWaterMark metaData key: written as highest
    //     assigned id too (spec convention; logs from builds that
    //     stored the next base instead just leave a one-id gap —
    //     a gap is legal, a collision is not)
    //   - max(baseRowId + numRecords) over logged adds with stats:
    //     the floor the live files themselves prove
    val domainNext: Option[Long] = logged.domainMetadata
      .get("delta.rowTracking").collect { case (cfg, false) =>
        (JsonMethods.parse(cfg) \ "rowIdHighWaterMark") match {
          case JInt(x)    => Some(x.toLong + 1L)
          case JString(x) => x.toLongOption.map(_ + 1L)
          case _          => None
        }
      }.flatten
    val graftNext: Option[Long] = loggedMeta.flatMap(j =>
      (j \ "configuration" \ "graft.rowIdHighWaterMark") match {
        case JString(x) => x.toLongOption.map(_ + 1L)
        case _          => None
      })
    val addsNext: Option[Long] = {
      val tops: Seq[Long] = logged.adds.flatMap(a => for {
        b <- a.baseRowId
        s <- a.stats
        n <- (JsonMethods.parse(s) \ "numRecords") match {
          case JInt(x)  => Some(x.toLong)
          case JLong(x) => Some(x)
          case _        => None
        }
      } yield b + n)
      if (tops.isEmpty) None else Some(tops.max)
    }
    var hwm: Long =
      (domainNext.toSeq ++ graftNext.toSeq ++ addsNext.toSeq)
        .foldLeft(0L)(math.max)
    val nextV = logged.version + 1L
    val rowIdOf: Map[String, (Long, Long)] =
      if (!rt) Map.empty
      else readds.map { case (f, _) =>
        val pth = rel(f.path)
        pth -> loggedRowIds.getOrElse(pth, {
          val base = hwm
          hwm += FileStats.fromJson(f.statsJson, statsSchema)
            .map(_.rows)
            .getOrElse(spark.read.parquet(f.path).count())
          (base, nextV)
        })
      }.toMap
    val meta =
      if (schemaChanged || upgrade.nonEmpty || cdf || checksChanged ||
        (rt && readds.nonEmpty))
        Seq(metaDataAction(metaSchema, nowHasDvs, cdf || hadCdf,
          if (cdf) Some(curTx) else None, loggedId, checks,
          mappingMaxId = if (mapped) Some(maxId) else None,
          mappingMode = mode,
          rowIdHighWaterMark = if (rt) Some(hwm - 1) else None))
      else Nil
    val removeActions = (removed ++ dvChanged).sorted.map { p =>
      JObject("remove" -> JObject(
        "path" -> JString(p),
        "deletionTimestamp" -> JLong(System.currentTimeMillis()),
        "dataChange" -> JBool(true)))
    }
    val addActions = readds.map { case (f, _) =>
      addAction(fs, rootUri, statsSchema, dvSlots.get(basename(f.path)),
        rowIdOf.get(rel(f.path)))(f) }
    val domainActions =
      if (rt && (readds.nonEmpty || enablingRt))
        Seq(rowTrackingDomain(hwm - 1))
      else Nil
    val v = nextV
    val commit = writeCommit(fs, table.dir, v,
      upgrade ++ meta ++ cdcActions ++ removeActions ++ addActions ++
        domainActions)
    if (checkpointInterval > 0 && v % checkpointInterval == 0)
      writeCheckpoint(spark, table)
    Some(commit)
  }
}
