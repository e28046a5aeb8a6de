package graft.core

import java.net.URLDecoder
import java.nio.charset.StandardCharsets

import scala.io.Source

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** DELTA-PROTOCOL IMPORT — the read half of the interop path
  * ([[DeltaExport]] is the write half): open a Delta Lake table
  * directory by replaying its `_delta_log` JSON commits into a live
  * file set, then serve the data as a plain DataFrame over exactly
  * those parquet files. Pure JSON over the open protocol
  * (delta.io PROTOCOL.md) — no Delta jars.
  *
  * Replay semantics per the protocol's state reconstruction rules:
  * the latest `metaData` wins (schema + partition columns), `add`
  * upserts a path into the live set (a re-add replaces the prior
  * entry), `remove` drops it (tombstone timestamps don't matter for
  * reads), `commitInfo`/`txn` are no-ops. Paths are percent-decoded
  * and resolved table-relative unless absolute (both legal).
  *
  * Honest protocol floor: `minReaderVersion` 1 (plain parquet), plus
  * reader v3 when every listed `readerFeature` is one this reader
  * implements — see [[SupportedReaderFeatures]] (`deletionVectors`,
  * `columnMapping`, `variantType`, `v2Checkpoint`). Anything else
  * that changes how the files must be interpreted (unknown features)
  * is REFUSED, never misread. Checkpointed logs bootstrap from the
  * newest checkpoint at or below the target — classic, multipart, or
  * v2 + sidecars — and replay only the JSON tail; a log whose needed
  * prefix was vacuumed is refused with the gap named.
  *
  * Scale: replay is driver-side metadata work proportional to the LOG
  * (one JSON line per action), never the data; the resulting scan
  * lists exactly the live files — no directory listing, so stale
  * files awaiting vacuum are invisible, same as TxTable's own reads.
  * Partition values come from the log per the protocol (they are NOT
  * in the data files) and attach as per-file-group literal columns.
  */
object DeltaImport {

  /** A deletion-vector descriptor as the protocol spells it (add
    * action `deletionVector` field): where the serialized bitmap
    * lives and how many rows it tombstones. */
  final case class DvDesc(
      storageType: String,
      pathOrInlineDv: String,
      offset: Option[Long],
      sizeInBytes: Long,
      cardinality: Long)

  /** The table's protocol action: versions plus (reader ≥ 3 / writer
    * ≥ 7) the explicit feature lists. */
  final case class Protocol(
      minReaderVersion: Int,
      minWriterVersion: Int,
      readerFeatures: Seq[String],
      writerFeatures: Seq[String])

  /** The only reader-relevant table features this reader implements —
    * anything else in `readerFeatures` is honestly refused.
    * `variantType`: the schema's `variant` columns decode through
    * Spark 4's own VariantType parquet binding (binary value/metadata
    * struct per the published spec — the same layout this engine's
    * export stages). `variantShredding`: files may store a variant
    * column SHREDDED (typed subcolumns + residual, the Spark 4.1
    * writer default); the scan binds the declared VariantType through
    * Spark's own parquet reader, which reassembles shredded and plain
    * groups alike (`spark.sql.variant.allowReadingShredded`) — our
    * own exports still stage unshredded and declare only
    * `variantType`. `v2Checkpoint`: [[snapshot]] bootstraps from
    * UUID-named v2 checkpoint mains (parquet or json) and their
    * sidecar files. */
  val SupportedReaderFeatures: Set[String] =
    Set("deletionVectors", "columnMapping", "variantType",
      "variantShredding", "v2Checkpoint")

  /** A live add action's payload — everything a checkpoint must carry
    * forward (losing `stats` would cost Delta readers their skipping). */
  final case class AddFile(
      path: String,
      partitionValues: Map[String, Option[String]],
      size: Long,
      modificationTime: Long,
      stats: Option[String],
      deletionVector: Option[DvDesc] = None,
      /** ROW TRACKING (writer feature): the file's first fresh row id
        * and the commit version its rows default to — carried so
        * re-adds (DV updates) and checkpoints keep them stable. */
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)

  /** Reconstructed snapshot: what the log says the table IS now. */
  final case class Snapshot(
      version: Long,
      schema: StructType,
      partitionColumns: Seq[String],
      /** live add actions in add order (absolute resolved paths). */
      adds: Seq[AddFile],
      /** raw JSON of the winning metaData action (checkpoint writers
        * carry the table id / createdTime forward from it). */
      metaRaw: Option[String] = None,
      /** checkpoint version this replay bootstrapped from, if any —
        * evidence that the JSON prefix was NOT re-read. */
      fromCheckpoint: Option[Long] = None,
      /** JSON commit files actually replayed (after the bootstrap). */
      replayedJsonCommits: Int = 0,
      /** the log's winning protocol action (floor when absent). */
      protocol: Protocol = Protocol(1, 2, Nil, Nil),
      /** last-writer-wins domainMetadata per domain: domain →
        * (configuration JSON, removed). The spec requires checkpoints
        * to carry these forward (a stock writer's clustering or
        * rowTracking domain must survive a vacuumed JSON prefix), and
        * the rowTracking high watermark rides the delta.rowTracking
        * domain. */
      domainMetadata: Map[String, (String, Boolean)] = Map.empty) {
    /** live data files: absolute path -> partition values (raw
      * protocol strings; null value = null partition). */
    def files: Seq[(String, Map[String, Option[String]])] =
      adds.map(a => a.path -> a.partitionValues)
  }

  private implicit val fmts: Formats = DefaultFormats

  /** Replay the log under `dir/_delta_log` into a [[Snapshot]] —
    * current state, or only up to `asOf` (Delta-style VERSION AS OF:
    * the log IS the history, so reading an older version is just
    * stopping the replay early).
    *
    * Checkpoint-aware per PROTOCOL.md: when `_last_checkpoint` names
    * a checkpoint at or below the target version, state bootstraps
    * from the checkpoint's files — one classic parquet, every part of
    * a multipart set, or a v2 UUID-named main (parquet or json) plus
    * its sidecars — and only the JSON commits AFTER it
    * replay — the log's scale cliff (replaying thousands of JSON
    * commits) is paid once per checkpoint interval by the writer, not
    * on every read. JSON commits BEFORE the checkpoint may be absent
    * (vacuumed); the contiguity requirement starts at checkpoint + 1.
    * Time travel to a version below the last checkpoint falls back to
    * full JSON replay from 0 and refuses (gap named) if that prefix
    * was vacuumed — never a silently wrong older snapshot. */
  def snapshot(spark: SparkSession, dir: String,
      asOf: Option[Long] = None): Snapshot = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(root, "_delta_log")
    require(fs.exists(logDir), s"$dir has no _delta_log - not a Delta table")

    val commitRe = "(\\d{20})\\.json".r
    val cpRe = "(\\d{20})\\.checkpoint\\.parquet".r
    // multipart classic: NNN.checkpoint.MMM.PPP.parquet = part M of P
    // (stock delta-spark splits past checkpoint.partSize); a version's
    // checkpoint is usable only when EVERY part 1..P is present
    val cpMultiRe =
      "(\\d{20})\\.checkpoint\\.(\\d{10})\\.(\\d{10})\\.parquet".r
    // v2 (the `v2Checkpoint` table feature): UUID-named single main
    // file, parquet or json, whose state may live in SIDECAR parquet
    // files under _delta_log/_sidecars/. The UUID cannot contain
    // dots, so this pattern can never swallow a multipart name.
    val cpV2Re = "(\\d{20})\\.checkpoint\\.([^.]+)\\.(parquet|json)".r
    val names = fs.listStatus(logDir).toSeq.map(_.getPath)
    val allCommits = names.flatMap { p =>
      p.getName match {
        case commitRe(v) => Some(v.toLong -> p)
        case _           => None
      }
    }.sortBy(_._1)
    /** one readable checkpoint: its physical files + dialect. */
    case class Cp(parts: Seq[Path], v2: Boolean, json: Boolean)
    val classicCps: Map[Long, Cp] = names.flatMap { p =>
      p.getName match {
        case cpRe(v) => Some(v.toLong -> Cp(Seq(p), v2 = false, json = false))
        case _       => None
      }
    }.toMap
    val multiCps: Map[Long, Cp] = names.flatMap { p =>
      p.getName match {
        case cpMultiRe(v, m, n) => Some((v.toLong, m.toInt, n.toInt, p))
        case _                  => None
      }
    }.groupBy(_._1).flatMap { case (v, parts) =>
      val totals = parts.map(_._3).distinct
      if (totals.sizeIs == 1 &&
          parts.map(_._2).sorted == (1 to totals.head).toList)
        Some(v -> Cp(parts.sortBy(_._2).map(_._4), v2 = false, json = false))
      else None // a partial multipart upload is NOT a checkpoint
    }
    val v2Cps: Map[Long, Cp] = names.flatMap { p =>
      p.getName match {
        case cpMultiRe(_, _, _) => None // numeric parts, not a uuid
        case cpV2Re(v, _, fmt)  => Some((v.toLong, fmt == "json", p))
        case _                  => None
      }
    }.groupBy(_._1).map { case (v, cands) =>
      // prefer a parquet main when both formats exist at one version
      val (json, p) = cands.map(c => (c._2, c._3)).sortBy(_._1).head
      v -> Cp(Seq(p), v2 = true, json = json)
    }
    // precedence at the same version: classic single file (cheapest),
    // else complete multipart, else v2 — all encode identical state
    val checkpoints: Map[Long, Cp] = v2Cps ++ multiCps ++ classicCps
    // _last_checkpoint is the pointer stock readers trust; fall back
    // to the newest checkpoint file actually present (pointer write
    // is the non-atomic last step — a crash can strand a valid
    // checkpoint behind a stale pointer)
    val lastCp: Option[Long] = {
      val ptr = new Path(logDir, "_last_checkpoint")
      val pointed =
        if (!fs.exists(ptr)) None
        else scala.util.Try {
          val in = fs.open(ptr)
          val txt = try Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          (JsonMethods.parse(txt) \ "version").extract[Long]
        }.toOption
      (pointed.toSeq ++ checkpoints.keys).filter(checkpoints.contains)
        .reduceOption(_ max _)
    }

    val newestKnown =
      (allCommits.lastOption.map(_._1).toSeq ++ lastCp).reduceOption(_ max _)
    require(newestKnown.nonEmpty,
      s"$dir/_delta_log holds no JSON commits and no checkpoint")
    val target = asOf match {
      case None => newestKnown.get
      case Some(v) =>
        require(v >= 0L && v <= newestKnown.get,
          s"version $v not in the log (0..${newestKnown.get})")
        v
    }
    // bootstrap choice: the newest checkpoint at or below the target
    // among ALL present checkpoints (not just the pointed one) — a
    // log whose pre-checkpoint commits were retired can still time
    // travel to any version at or above a RETAINED older checkpoint
    val boot: Option[Long] =
      checkpoints.keys.filter(_ <= target).reduceOption(_ max _)
    val replayFrom = boot.map(_ + 1L).getOrElse(0L)
    val tail = allCommits.filter { case (v, _) =>
      v >= replayFrom && v <= target }
    val expected = (replayFrom to target)
    require(tail.map(_._1) == expected,
      s"log is missing commits ${expected.toSet -- tail.map(_._1).toSet}" +
        (if (boot.isEmpty && lastCp.nonEmpty)
          s" - JSON replay from 0 needs the full prefix, but commits up " +
            s"to checkpoint ${lastCp.get} were vacuumed; only versions >= " +
            s"${lastCp.get} are reachable"
        else " (vacuumed?) - replay needs the contiguous history") )

    val rootUri = fs.makeQualified(root).toString.stripSuffix("/")
    def resolve(raw: String): String = {
      val p = URLDecoder.decode(raw, StandardCharsets.UTF_8.name())
      if (p.contains("://") || p.startsWith("/")) p else s"$rootUri/$p"
    }

    var schema: StructType = null
    var partCols: Seq[String] = Nil
    var metaRaw: Option[String] = None
    var proto: Protocol = Protocol(1, 2, Nil, Nil)
    // LinkedHashMap keeps add order for deterministic file lists
    val live = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    // domain → (configuration, removed); last writer wins per domain
    val domains =
      scala.collection.mutable.LinkedHashMap.empty[String, (String, Boolean)]

    // Honest floor: reader v1 (plain parquet), reader v2 (column
    // mapping implied — the scan binds by physicalName; id mode is
    // refused at scan time where the metaData declares it), or
    // reader v3 (table features) when every listed readerFeature is
    // one this reader actually implements — deletionVectors and
    // columnMapping. Unknown v3 features change how the bytes must
    // be interpreted, so they are refused, never misread.
    def applyProtocol(r: Int, w: Int, rf: Seq[String], wf: Seq[String])
        : Unit = {
      require(r <= 2 ||
        (r == 3 && rf.forall(SupportedReaderFeatures.contains)),
        s"table demands minReaderVersion $r with readerFeatures " +
          s"[${rf.mkString(",")}] - this reader supports protocols 1-2 " +
          s"and protocol 3 with [${SupportedReaderFeatures.mkString(",")}]")
      proto = Protocol(r, w, rf, wf)
    }
    def applyMeta(m: JValue): Unit = {
      val fmt = (m \ "format" \ "provider").extractOpt[String]
      require(fmt.forall(_ == "parquet"),
        s"unsupported storage format ${fmt.get}")
      schema = DataType.fromJson((m \ "schemaString").extract[String])
        .asInstanceOf[StructType]
      partCols = (m \ "partitionColumns").extract[Seq[String]]
      metaRaw = Some(JsonMethods.compact(JsonMethods.render(m)))
    }

    // Checkpoint state reconstruction stays a DataFrame — the driver
    // collects ONLY the protocol/metaData singletons (≤1 row each)
    // and the live add-file projection it must have anyway to build
    // the file index (path + partitionValues + size + mtime + stats;
    // never remove tombstones, never whole action rows). A
    // million-file 100 TB checkpoint collects exactly its live file
    // list — the same bound every file-source listing pays.
    /** Apply protocol/metaData/add actions found in action-shaped
      * parquet files (a classic checkpoint, every part of a multipart
      * one, a v2 main, or v2 sidecars — the column guards make one
      * ingester serve all four). Returns any referenced SIDECAR paths
      * (raw, per the v2 spec: absolute URI or a name relative to
      * _delta_log/_sidecars/). */
    def ingestCheckpointParquet(paths: Seq[String]): Seq[String] = {
      import org.apache.spark.sql.functions.{col => c}
      val rows = spark.read.parquet(paths: _*)
      val cols = rows.columns.toSet
      if (cols("protocol")) {
        val pFields = rows.select(c("protocol.*")).columns.toSet
        def featList(name: String) =
          if (pFields(name)) c(s"protocol.$name")
          else org.apache.spark.sql.functions.lit(null)
            .cast("array<string>")
        val minW =
          if (pFields("minWriterVersion")) c("protocol.minWriterVersion")
          else org.apache.spark.sql.functions.lit(2)
        rows.where(c("protocol").isNotNull)
          .select(c("protocol.minReaderVersion"), minW.as("w"),
            featList("readerFeatures").as("rf"),
            featList("writerFeatures").as("wf"))
          .limit(2)
          .collect().foreach { r =>
            def feats(i: Int): Seq[String] =
              if (r.isNullAt(i)) Nil else r.getSeq[String](i)
            applyProtocol(r.getInt(0), r.getInt(1), feats(2), feats(3))
          }
      }
      if (cols("metaData")) {
        val mdf = rows.where(c("metaData").isNotNull)
        val mFields = rows.select(c("metaData.*")).columns.toSet
        // createdTime is OPTIONAL in the Delta spec: a legitimate
        // foreign checkpoint may omit the column or null it — default
        // instead of failing (the JSON path is lenient via extractOpt)
        val created =
          if (mFields("createdTime"))
            org.apache.spark.sql.functions
              .coalesce(c("metaData.createdTime"),
                org.apache.spark.sql.functions.lit(0L))
          else org.apache.spark.sql.functions.lit(0L)
        mdf.select(c("metaData.id"), c("metaData.format.provider"),
            c("metaData.schemaString"), c("metaData.partitionColumns"),
            created.as("createdTime"))
          .limit(2).collect().foreach { m =>
            applyMeta(JObject(
              "id" -> JString(m.getString(0)),
              "format" -> JObject(
                "provider" -> JString(m.getString(1)),
                "options" -> JObject()),
              "schemaString" -> JString(m.getString(2)),
              "partitionColumns" -> JArray(
                m.getSeq[String](3).map(JString(_)).toList),
              "configuration" -> JObject(),
              "createdTime" -> JLong(m.getLong(4))))
          }
      }
      if (cols("add")) {
        val aFields = rows.select(c("add.*")).columns.toSet
        val stats =
          if (aFields("stats")) c("add.stats")
          else org.apache.spark.sql.functions.lit(null).cast("string")
        val dv =
          if (aFields("deletionVector")) c("add.deletionVector")
          else org.apache.spark.sql.functions.lit(null).cast(
            "struct<storageType:string,pathOrInlineDv:string," +
              "offset:bigint,sizeInBytes:bigint,cardinality:bigint>")
        def optLong(name: String) =
          if (aFields(name)) c(s"add.$name")
          else org.apache.spark.sql.functions.lit(null).cast("bigint")
        rows.where(c("add").isNotNull)
          .select(c("add.path"), c("add.partitionValues"), c("add.size"),
            c("add.modificationTime"), stats.as("stats"), dv.as("dv"),
            optLong("baseRowId").as("bri"),
            optLong("defaultRowCommitVersion").as("drcv"))
          .collect().foreach { a =>
            val pv = Option(a.getMap[String, String](1))
              .map(_.toMap.map { case (k, v) => k -> Option(v) })
              .getOrElse(Map.empty[String, Option[String]])
            val p = resolve(a.getString(0))
            val dvDesc =
              if (a.isNullAt(5)) None
              else {
                val d = a.getStruct(5)
                def lng(name: String): Option[Long] = {
                  val i = d.fieldIndex(name)
                  if (d.isNullAt(i)) None
                  else Some(d.get(i) match {
                    case l: Long => l
                    case i2: Int => i2.toLong
                  })
                }
                Some(DvDesc(d.getAs[String]("storageType"),
                  d.getAs[String]("pathOrInlineDv"), lng("offset"),
                  lng("sizeInBytes").getOrElse(0L),
                  lng("cardinality").getOrElse(0L)))
              }
            live.put(p, AddFile(p, pv, a.getLong(2), a.getLong(3),
              if (a.isNullAt(4)) None else Some(a.getString(4)), dvDesc,
              if (a.isNullAt(6)) None else Some(a.getLong(6)),
              if (a.isNullAt(7)) None else Some(a.getLong(7))))
          }
      }
      if (cols("domainMetadata")) {
        rows.where(c("domainMetadata").isNotNull)
          .select(c("domainMetadata.domain"),
            c("domainMetadata.configuration"),
            c("domainMetadata.removed"))
          .collect().foreach { d =>
            domains.put(d.getString(0),
              (d.getString(1), !d.isNullAt(2) && d.getBoolean(2)))
          }
      }
      if (!cols("sidecar")) Nil
      else rows.where(c("sidecar").isNotNull)
        .select(c("sidecar.path")).collect().map(_.getString(0)).toSeq
    }
    /** v2 sidecar `path` resolution: absolute URIs pass through,
      * names are relative to `_delta_log/_sidecars/`. */
    def resolveSidecar(raw: String): String =
      if (raw.contains("://") || raw.startsWith("/")) raw
      else fs.makeQualified(
        new Path(new Path(logDir, "_sidecars"), raw)).toString

    /** Apply ONE action-JSON object — a commit line or a v2 JSON
      * checkpoint line (same action vocabulary per the spec). Returns
      * the sidecar path when the line is a sidecar action. */
    def applyJsonAction(j: JValue): Option[String] = {
      (j \ "protocol") match {
          case JNothing => ()
          case p => applyProtocol(
            (p \ "minReaderVersion").extract[Int],
            (p \ "minWriterVersion").extractOpt[Int].getOrElse(2),
            (p \ "readerFeatures").extractOpt[Seq[String]].getOrElse(Nil),
            (p \ "writerFeatures").extractOpt[Seq[String]].getOrElse(Nil))
        }
        (j \ "metaData") match {
          case JNothing => ()
          case m => applyMeta(m)
        }
        (j \ "add") match {
          case JNothing => ()
          case a =>
            val pv = (a \ "partitionValues") match {
              case JObject(kvs) => kvs.map {
                case (k, JString(v)) => k -> Some(v)
                case (k, _)          => k -> None
              }.toMap
              case _ => Map.empty[String, Option[String]]
            }
            val p = resolve((a \ "path").extract[String])
            val dvDesc = (a \ "deletionVector") match {
              case JNothing => None
              case d => Some(DvDesc(
                (d \ "storageType").extract[String],
                (d \ "pathOrInlineDv").extract[String],
                (d \ "offset").extractOpt[Long],
                (d \ "sizeInBytes").extract[Long],
                (d \ "cardinality").extract[Long]))
            }
            live.put(p, AddFile(p, pv,
              (a \ "size").extractOpt[Long].getOrElse(0L),
              (a \ "modificationTime").extractOpt[Long].getOrElse(0L),
              (a \ "stats").extractOpt[String], dvDesc,
              (a \ "baseRowId").extractOpt[Long],
              (a \ "defaultRowCommitVersion").extractOpt[Long]))
        }
        (j \ "remove") match {
          case JNothing => ()
          case r => live.remove(resolve((r \ "path").extract[String]))
        }
        (j \ "domainMetadata") match {
          case JNothing => ()
          case d =>
            domains.put((d \ "domain").extract[String],
              ((d \ "configuration").extractOpt[String].getOrElse("{}"),
                (d \ "removed").extractOpt[Boolean].getOrElse(false)))
        }
        (j \ "sidecar" \ "path") match {
          case JString(s) => Some(s)
          case _          => None
        }
    }

    // 1) checkpoint bootstrap — classic / multipart / v2 per the
    // layout recorded for the chosen version
    boot.foreach { cv =>
      val cp = checkpoints(cv)
      val sidecars: Seq[String] =
        if (!cp.json) ingestCheckpointParquet(cp.parts.map(_.toString))
        else {
          // v2 JSON main: commit-line action vocabulary
          val in = fs.open(cp.parts.head)
          val lines =
            try Source.fromInputStream(in, "UTF-8").getLines().toList
            finally in.close()
          lines.filter(_.trim.nonEmpty)
            .flatMap(l => applyJsonAction(JsonMethods.parse(l)))
        }
      if (sidecars.nonEmpty)
        ingestCheckpointParquet(sidecars.map(resolveSidecar))
    }

    // 2) JSON tail replay
    tail.foreach { case (_, path) =>
      val in = fs.open(path)
      val lines =
        try Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      lines.filter(_.trim.nonEmpty)
        .foreach(l => applyJsonAction(JsonMethods.parse(l)))
    }
    require(schema != null, "log replay found no metaData action")
    Snapshot(target, schema, partCols, live.values.toSeq, metaRaw,
      boot, tail.size, proto, domains.toMap)
  }

  /** EXACT live row count of a snapshot when the log carries enough
    * evidence: every add action has `numRecords` stats, minus each
    * file's DV cardinality. None when any add lacks stats — a wrong
    * row count misleads the CBO worse than no row count. Driver-side
    * over already-collected metadata, zero jobs. */
  def rowCount(snap: Snapshot): Option[Long] = {
    val counts = snap.adds.map(_.stats.flatMap(s =>
      scala.util.Try(
        (JsonMethods.parse(s) \ "numRecords").extractOpt[Long])
        .toOption.flatten))
    if (counts.isEmpty || counts.exists(_.isEmpty)) None
    else Some(counts.flatten.sum -
      snap.adds.flatMap(_.deletionVector).map(_.cardinality).sum)
  }

  /** DV-masked scan of `group` under `dataSchema` — the shared read
    * primitive of [[read]] and [[readChanges]]' insert derivation:
    * clean files stream straight through; DV'd files anti-join the
    * broadcast tombstones on (file, row_index), positions expanded on
    * executors from descriptor-bounded bitmap bytes. */
  private def maskedScan(spark: SparkSession,
      hfs: org.apache.hadoop.fs.FileSystem, rootUri: String,
      dataSchema: StructType, group: Seq[AddFile],
      /** session the parquet relations are BUILT under (the id-mode
        * flag-scoped child, or `spark` itself). */
      reader: Option[SparkSession]): DataFrame = {
    val rs = reader.getOrElse(spark)
    val (dirty, clean) = group.partition(_.deletionVector.nonEmpty)
    val cleanDf =
      if (clean.isEmpty) None
      else Some(rs.read.schema(dataSchema).parquet(clean.map(_.path): _*))
    val dirtyDf =
      if (dirty.isEmpty) None
      else {
        import spark.implicits._
        val blobs: Seq[(String, Array[Byte])] = dirty.map { a =>
          val d = a.deletionVector.get
          val bytes = d.storageType match {
            case "u" => DeltaDv.readDvBlob(hfs, rootUri,
              d.pathOrInlineDv, d.offset.getOrElse(1L), d.sizeInBytes)
            case "p" => DeltaDv.readBlobAt(hfs,
              new Path(d.pathOrInlineDv), d.offset.getOrElse(1L),
              d.sizeInBytes)
            case "i" => DeltaDv.decodeBase85(d.pathOrInlineDv,
              d.sizeInBytes.toInt)
            case other => throw new UnsupportedOperationException(
              s"deletion vector storageType '$other' is not supported " +
                "(u, p and i are)")
          }
          a.path.substring(a.path.lastIndexOf('/') + 1) -> bytes
        }
        val tomb = spark.createDataset(blobs)
          .flatMap { case (f, bytes) =>
            DeltaDv.deserializeBitmap(bytes).iterator.map(p => (f, p)) }
          .toDF("_dv_file", "_dv_pos")
        Some(TxTable.maskDeleted(TxTable.withRowIdentity(
          rs.read.schema(dataSchema).parquet(dirty.map(_.path): _*)), tomb))
      }
    (cleanDf.toSeq ++ dirtyDf.toSeq).reduce(_ unionByName _)
  }

  /** Read the table's state as a DataFrame with the log's declared
    * schema (partition columns included, typed per schema) — current,
    * or at `asOf` (VERSION AS OF). Files carrying deletion vectors
    * are served MERGE-ON-READ: the driver loads only the compressed
    * bitmap bytes (descriptor-bounded — never the positions), the
    * positions expand on EXECUTORS, and the dirty files anti-join the
    * broadcast tombstones on (file, row_index) — clean files never
    * pay the mask, the same plan TxTable's own DV reads use. */
  /** How this table's data columns bind to parquet columns, per the
    * log's `delta.columnMapping.mode`. */
  private sealed trait ColumnBinding
  /** NAME mode: bind by each field's `physicalName`. */
  private final case class BindByName(map: Map[String, String])
      extends ColumnBinding
  /** ID mode: bind by parquet FOOTER FIELD ID — the spec's binding
    * for tables whose parquet column names are unrelated to the Delta
    * schema (Iceberg-uniform converts, some Databricks writers).
    * Served through Spark's own field-id reader
    * (`spark.sql.parquet.fieldId.read.enabled` + `parquet.field.id`
    * field metadata), so the vectorized decode path is unchanged. */
  private case object BindById extends ColumnBinding

  private def columnBinding(snap: Snapshot): Option[ColumnBinding] = {
    val mode = snap.metaRaw.flatMap(raw =>
      (JsonMethods.parse(raw) \ "configuration" \
        "delta.columnMapping.mode") match {
        case JString(m) => Some(m)
        case _          => None
      })
    mode match {
      case Some("name") => Some(BindByName(physicalNameMap(snap.schema)))
      case Some("id")   => Some(BindById)
      case Some(other) => throw new UnsupportedOperationException(
        s"delta.columnMapping.mode='$other' is not supported " +
          "(name and id are)")
      case _ => None
    }
  }

  /** The SparkSession id-mode scans are BUILT under: a cached child
    * session (`newSession` — shared SparkContext, isolated SQLConf)
    * with `spark.sql.parquet.fieldId.read.enabled` on. A
    * HadoopFsRelation resolves its hadoop conf from the session it
    * was CREATED with, so the flag rides the relation wherever the
    * frame is later used — including queries executed from the
    * parent session — while the parent session's conf is never
    * mutated (a session-wide flag would silently flip any later read
    * whose requested schema happens to carry parquet.field.id
    * metadata from name- to id-binding). The parent's runtime SQL
    * conf is copied in once at creation; one child per parent for
    * the JVM's (few) sessions. */
  private val idReadSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]()
  private def idReadSession(spark: SparkSession): SparkSession =
    idReadSessions.synchronized {
      Option(idReadSessions.get(spark)).getOrElse {
        val s2 = spark.newSession()
        spark.conf.getAll.foreach { case (k, v) =>
          try s2.conf.set(k, v)
          catch { case scala.util.control.NonFatal(_) => () } // static confs
        }
        s2.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        idReadSessions.put(spark, s2)
        s2
      }
    }
  private def readerFor(spark: SparkSession,
      binding: Option[ColumnBinding]): SparkSession = binding match {
    case Some(BindById) => idReadSession(spark)
    case _ => spark
  }

  /** `s` rewritten to the schema the parquet reader binds with: name
    * mode renames fields to their physicalName; id mode additionally
    * tags each field with `parquet.field.id` so Spark's reader
    * matches footer field ids (a requested field WITHOUT an id — the
    * CDF's `_change_type` — still binds by name, per Spark's mixed
    * matching). Declared names are restored positionally after the
    * scan in both modes. */
  private def physicalized(s: StructType,
      binding: Option[ColumnBinding]): StructType = binding match {
    case None => s
    case Some(BindByName(m)) =>
      StructType(s.fields.map(f => f.copy(name = m.getOrElse(f.name, f.name))))
    case Some(BindById) =>
      StructType(s.fields.map { f =>
        require(f.metadata.contains("delta.columnMapping.id"),
          s"id-mode table field '${f.name}' carries no " +
            "delta.columnMapping.id - the log is malformed")
        val phys =
          if (f.metadata.contains("delta.columnMapping.physicalName"))
            f.metadata.getString("delta.columnMapping.physicalName")
          else f.name
        StructField(phys, f.dataType, f.nullable,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id",
              f.metadata.getLong("delta.columnMapping.id"))
            .build())
      })
  }

  def read(spark: SparkSession, dir: String,
      asOf: Option[Long] = None): DataFrame =
    serveSnapshot(spark, dir, snapshot(spark, dir, asOf))

  /** [[read]] restricted by `pred`, with DRIVER-SIDE FILE SKIPPING
    * from the log's add-action stats (the Delta data-skipping
    * contract): files whose minValues/maxValues/nullCount disprove
    * the predicate never enter the scan plan at all — at import
    * scale the skipped I/O is the point; a wide-bounds file
    * (`tightBounds: false`, DV'd) stays conservative because wider
    * extrema only ever KEEP files. Stats-less or unparseable adds
    * are kept (skipping is an optimization, never a filter); the
    * returned frame still applies `pred` exactly. Under
    * columnMapping, stats key by PHYSICAL name and are translated
    * back to declared names before evaluation. */
  /** logical name -> physical parquet name from the logged schema's
    * columnMapping metadata (identity when a field carries none) —
    * the ONE extraction shared by name-mode binding, readWhere's
    * stats keys and partitionValues translation. */
  private def physicalNameMap(schema: StructType): Map[String, String] =
    schema.fields.iterator.map { f =>
      f.name -> (
        if (f.metadata.contains("delta.columnMapping.physicalName"))
          f.metadata.getString("delta.columnMapping.physicalName")
        else f.name)
    }.toMap

  def readWhere(spark: SparkSession, dir: String, pred: Column,
      asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, dir, asOf)
    val statsKey: Map[String, String] =
      if (columnBinding(snap).isEmpty) Map.empty
      else physicalNameMap(snap.schema)
    // resolve the predicate through the shared analyzer pass (exact
    // types; an unresolvable shape prunes nothing)
    val expr = FileStats.resolvePredicate(spark, snap.schema, pred)
    val kept = expr match {
      case None => snap.adds
      case Some(cond) => snap.adds.filter { a =>
        a.stats.flatMap(statsFromDelta(_, snap.schema, statsKey)) match {
          case Some(st) => FileStats.mayMatch(st, cond, snap.schema)
          case None     => true
        }
      }
    }
    serveSnapshot(spark, dir, snap.copy(adds = kept)).filter(pred)
  }

  /** Delta add-action stats (`numRecords`/`minValues`/`maxValues`/
    * `nullCount`) lifted into the engine's zone-map shape so
    * [[FileStats.mayMatch]] evaluates predicates against them.
    * Column entries that fail to lift drop out — sound: no entry =
    * never skip on that column. */
  private def statsFromDelta(json: String, schema: StructType,
      statsKey: Map[String, String]): Option[FileStats.Stats] =
    scala.util.Try {
      val j = JsonMethods.parse(json)
      val rows = (j \ "numRecords") match {
        case JInt(n)  => n.toLong
        case JLong(n) => n
        case _        => -1L
      }
      val cols = schema.fields.flatMap { f =>
        val k = statsKey.getOrElse(f.name, f.name)
        val mn = deltaDomain(j \ "minValues" \ k, f.dataType)
        val mx = deltaDomain(j \ "maxValues" \ k, f.dataType)
        val nulls = (j \ "nullCount" \ k) match {
          case JInt(n)  => n.toLong
          case JLong(n) => n
          case _        => -1L
        }
        (mn, mx) match {
          case (Some(a), Some(b)) =>
            Some(f.name -> FileStats.ColStats(Some(a), Some(b), nulls))
          case _ if nulls == rows && rows >= 0 =>
            // all-null column: provable emptiness without extrema
            Some(f.name -> FileStats.ColStats(None, None, nulls))
          case _ => None
        }
      }.toMap
      FileStats.Stats(rows, cols)
    }.toOption

  /** One Delta stats JSON value into FileStats' comparable domain
    * (integral/date → Long, float → Double, timestamp → micros,
    * string/boolean as-is). Delta serializes date/timestamp extrema
    * as ISO strings. */
  private def deltaDomain(j: JValue,
      dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    (j, dt) match {
      case (JInt(n), _: ByteType | _: ShortType | _: IntegerType |
          _: LongType) => Some(n.toLong)
      case (JLong(n), _: ByteType | _: ShortType | _: IntegerType |
          _: LongType) => Some(n)
      case (JDouble(d), _: FloatType | _: DoubleType) => Some(d)
      case (JDecimal(d), _: FloatType | _: DoubleType) => Some(d.toDouble)
      case (JInt(n), _: FloatType | _: DoubleType) => Some(n.toDouble)
      case (JLong(n), _: FloatType | _: DoubleType) => Some(n.toDouble)
      case (JString(s), _: StringType) => Some(s)
      case (JBool(b), _: BooleanType) => Some(b)
      case (JString(s), _: DateType) =>
        scala.util.Try(java.time.LocalDate.parse(s).toEpochDay).toOption
      case (JString(s), _: TimestampType) =>
        scala.util.Try {
          val inst = scala.util.Try(java.time.Instant.parse(s)).getOrElse(
            java.time.LocalDateTime.parse(s)
              .toInstant(java.time.ZoneOffset.UTC))
          inst.getEpochSecond * 1000000L + inst.getNano / 1000L
        }.toOption
      case _ => None
    }
  }

  private[graft] def serveSnapshot(spark: SparkSession, dir: String,
      snap: Snapshot): DataFrame = {
    val root = new Path(dir)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootUri = hfs.makeQualified(root).toString.stripSuffix("/")
    val dataSchema = StructType(
      snap.schema.filterNot(f => snap.partitionColumns.contains(f.name)))
    val mapping = columnBinding(snap)
    val physDataSchema = physicalized(dataSchema, mapping)
    // partitionValues key by PHYSICAL name under columnMapping (the
    // protocol stores partition tuples under the column's physical
    // identity, same as the data files); logical -> physical here
    val physOf: Map[String, String] =
      if (mapping.isEmpty) Map.empty
      else physicalNameMap(snap.schema)

    def scan(group: Seq[AddFile]): DataFrame = {
      // files bind by PHYSICAL name under name mode; surface the
      // declared names (toDF is positional, so swaps are safe)
      val df = maskedScan(spark, hfs, rootUri, physDataSchema, group,
        Some(readerFor(spark, mapping)))
      if (mapping.isEmpty) df else df.toDF(dataSchema.fieldNames.toSeq: _*)
    }

    val out =
      if (snap.adds.isEmpty) {
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dataSchema)
      } else if (snap.partitionColumns.isEmpty) {
        scan(snap.adds)
      } else {
        // partition values live in the LOG, not the files: group the
        // live set by its value tuple and attach each group's values
        // as literal columns cast to the declared type (protocol
        // serialization: strings; null = null). Group count is the
        // table's partition count - driver-side metadata, not data.
        snap.adds.groupBy(_.partitionValues).toSeq
          .sortBy(_._1.toSeq.sortBy(_._1).mkString(","))
          .map { case (pv, group) =>
            val withParts = snap.partitionColumns.foldLeft(scan(group)) {
              (df, c) =>
                val dt = snap.schema(c).dataType
                val v: Column = pv.get(physOf.getOrElse(c, c)).flatten match {
                  case Some(s) => lit(s).cast(dt)
                  case None    => lit(null).cast(dt)
                }
                df.withColumn(c, v)
            }
            withParts
          }
          .reduce(_ unionByName _)
      }
    out.select(snap.schema.map(f => col(f.name)).toSeq: _*)
  }

  /** Column binding for the STREAMING CDF source: (declared data
    * schema, the physical schema its per-file row reader must project
    * by). Name mode binds by physicalName (declared names restored
    * positionally by the caller); ID mode is refused honestly — the
    * stream's row reader binds parquet columns by name, and id-mode
    * files' names are unrelated to the schema (readChanges, which
    * rides Spark's field-id reader, is the remedy). Unmapped tables
    * are the identity. */
  private[graft] def streamBinding(spark: SparkSession,
      dir: String): (StructType, StructType) = {
    val snap = snapshot(spark, dir)
    val dataSchema = StructType(
      snap.schema.filterNot(f => snap.partitionColumns.contains(f.name)))
    columnBinding(snap) match {
      case None => (dataSchema, dataSchema)
      case Some(BindByName(m)) => (dataSchema,
        StructType(dataSchema.fields.map(f =>
          f.copy(name = m.getOrElse(f.name, f.name)))))
      case Some(BindById) => throw new UnsupportedOperationException(
        s"$dir uses columnMapping ID mode - the streaming CDF reader " +
          "binds parquet columns by name and would misread it; use " +
          "DeltaImport.readChanges (field-id binding) instead")
    }
  }

  /** TIMESTAMP AS OF resolution: the newest delta version whose
    * commit file was modified at or before `tsMillis` — delta-spark's
    * own rule (commit-file modification times ARE the history
    * timeline; `DESCRIBE HISTORY` prints them). ONE directory
    * listing, no file opens. Refuses a timestamp before the earliest
    * retained commit (nothing to serve) — never rounds forward. */
  def versionAsOf(spark: SparkSession, dir: String,
      tsMillis: Long): Long = {
    val root = new Path(dir)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(root, "_delta_log")
    require(hfs.exists(logDir), s"$dir has no _delta_log - not a Delta table")
    val commitRe = "(\\d{20})\\.json".r
    val stamped = hfs.listStatus(logDir).toSeq.flatMap(st =>
      st.getPath.getName match {
        case commitRe(v) => Some(v.toLong -> st.getModificationTime)
        case _           => None
      })
    require(stamped.nonEmpty, s"$dir/_delta_log holds no JSON commits")
    val at = stamped.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"timestamp $tsMillis is before the earliest retained commit " +
        s"(${stamped.map(_._2).min}) of $dir")
    at.map(_._1).max
  }

  /** Per-commit history for the ops TVF (`graft_delta_history`):
    * (version, mtime, adds, removes, cdc files, carried metaData) for
    * every retained JSON commit — DESCRIBE HISTORY for a foreign
    * log, operation inferred from the actions when no commitInfo
    * names one. One listing plus one JSON parse per retained commit
    * (driver metadata, O(log)). */
  def history(spark: SparkSession, dir: String)
      : Seq[(Long, Long, Int, Int, Int, Boolean, String)] = {
    val root = new Path(dir)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(root, "_delta_log")
    require(hfs.exists(logDir), s"$dir has no _delta_log - not a Delta table")
    val commitRe = "(\\d{20})\\.json".r
    hfs.listStatus(logDir).toSeq.flatMap(st => st.getPath.getName match {
      case commitRe(v) => Some((v.toLong, st.getPath, st.getModificationTime))
      case _           => None
    }).sortBy(_._1).map { case (v, p, mtime) =>
      val in = hfs.open(p)
      val lines =
        try Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      var adds = 0; var removes = 0; var cdc = 0; var meta = false
      var op: Option[String] = None
      lines.filter(_.trim.nonEmpty).foreach { line =>
        val j = JsonMethods.parse(line)
        if ((j \ "add") != JNothing) adds += 1
        if ((j \ "remove") != JNothing) removes += 1
        if ((j \ "cdc") != JNothing) cdc += 1
        if ((j \ "metaData") != JNothing) meta = true
        (j \ "commitInfo" \ "operation") match {
          case JString(o) => op = Some(o)
          case _          => ()
        }
      }
      val inferred = op.getOrElse(
        if (removes > 0 && adds > 0) "overwrite"
        else if (removes > 0) "delete"
        else if (adds > 0) "append"
        else "metadata")
      (v, mtime, adds, removes, cdc, meta, inferred)
    }
  }

  /** Newest delta version with a JSON commit — ONE directory listing
    * (offset resolution for the streaming CDF source; checkpoints
    * don't matter here because a feed needs the JSON commits). */
  private[graft] def latestLogVersion(spark: SparkSession,
      dir: String): Long = {
    val root = new Path(dir)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(root, "_delta_log")
    require(hfs.exists(logDir), s"$dir has no _delta_log - not a Delta table")
    val commitRe = "(\\d{20})\\.json".r
    hfs.listStatus(logDir).toSeq.flatMap(st => st.getPath.getName match {
      case commitRe(v) => Some(v.toLong)
      case _           => None
    }).maxOption.getOrElse(throw new IllegalArgumentException(
      s"$dir/_delta_log holds no JSON commits"))
  }

  /** One commit's CDF file plan: (cdc change files, clean add files
    * to derive inserts from) — the shared contract of [[readChanges]]
    * and the STREAMING CDF source. Refusals are the honest ones:
    * row-removals without change data cannot be reconstructed, and
    * (when `allowDvAdds` is false — the streaming case, whose
    * file-partition readers cannot mask protocol bitmaps) neither can
    * DV-carrying adds. */
  private[graft] def commitChangePlan(spark: SparkSession, dir: String,
      v: Long, allowDvAdds: Boolean): (Seq[String], Seq[AddFile]) = {
    val root = new Path(dir)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootUri = hfs.makeQualified(root).toString.stripSuffix("/")
    val p = new Path(new Path(root, "_delta_log"), f"$v%020d.json")
    require(hfs.exists(p),
      s"delta commit $v of $dir is missing (vacuumed?) - the CDF " +
        "range is unavailable below the retained log")
    def resolve(raw: String): String = {
      val d = java.net.URLDecoder.decode(raw, StandardCharsets.UTF_8.name())
      if (d.contains("://") || d.startsWith("/")) d else s"$rootUri/$d"
    }
    val in = hfs.open(p)
    val lines =
      try Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    var cdcPaths = List.empty[String]
    var changeAdds = List.empty[AddFile]
    var dataRemoves = 0
    lines.filter(_.trim.nonEmpty).foreach { line =>
      val j = JsonMethods.parse(line)
      (j \ "cdc") match {
        case JNothing => ()
        case c => cdcPaths ::= resolve((c \ "path").extract[String])
      }
      (j \ "add") match {
        case JNothing => ()
        case a if (a \ "dataChange") == JBool(true) =>
          val dv = (a \ "deletionVector") match {
            case JNothing => None
            case d => Some(DvDesc(
              (d \ "storageType").extract[String],
              (d \ "pathOrInlineDv").extract[String],
              (d \ "offset").extractOpt[Long],
              (d \ "sizeInBytes").extract[Long],
              (d \ "cardinality").extract[Long]))
          }
          changeAdds ::= AddFile(resolve((a \ "path").extract[String]),
            Map.empty, 0L, 0L, None, dv)
        case _ => ()
      }
      (j \ "remove") match {
        case JNothing => ()
        case r if (r \ "dataChange") == JBool(true) => dataRemoves += 1
        case _ => ()
      }
    }
    if (cdcPaths.nonEmpty) (cdcPaths.reverse, Nil)
    else {
      require(dataRemoves == 0,
        s"commit $v removes rows but carries no change data - " +
          "re-export it with syncDeltaLog(cdf = true) to get a feed")
      require(allowDvAdds || changeAdds.forall(_.deletionVector.isEmpty),
        s"commit $v adds deletion-vector-carrying files and no change " +
          "data - the streaming CDF reader cannot mask protocol " +
          "bitmaps per file; start from a cdf-synced version or use " +
          "DeltaImport.readChanges")
      (Nil, changeAdds.reverse)
    }
  }

  /** CHANGE DATA FEED read — the row-level changes of Delta commits
    * `[fromVersion, toVersion]` (default: through the head), as the
    * table schema plus `_change_type` (insert | delete |
    * update_preimage | update_postimage) and `_commit_version`,
    * exactly delta-spark's `table_changes` shape:
    *
    *  - a commit carrying `cdc` actions serves its changes from those
    *    `_change_data` files VERBATIM (the writer's word is the feed);
    *  - a commit with only dataChange=true ADD actions (the initial
    *    snapshot, plain appends) derives its inserts from the added
    *    files through the DV-masked scan;
    *  - a commit that REMOVES rows without change data cannot be
    *    reconstructed (the removed bytes may be gone) and is REFUSED
    *    with the remedy (sync with cdf=true), never guessed;
    *  - dataChange=false churn (compaction re-adds) contributes
    *    nothing, per the protocol.
    */
  def readChanges(spark: SparkSession, dir: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val root = new Path(dir)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootUri = hfs.makeQualified(root).toString.stripSuffix("/")
    val endSnap = snapshot(spark, dir, toVersion) // protocol gate + schema
    val end = endSnap.version
    require(fromVersion >= 0 && fromVersion <= end,
      s"readChanges range [$fromVersion, $end] is empty or negative")
    val dataSchema = StructType(endSnap.schema
      .filterNot(f => endSnap.partitionColumns.contains(f.name)))
    val changeSchema = StructType(dataSchema.fields :+
      StructField("_change_type", org.apache.spark.sql.types.StringType))
    // change files bind by PHYSICAL name (or footer field id, in id
    // mode) under columnMapping, exactly like the data files
    val mapping = columnBinding(endSnap)
    val physDataSchema = physicalized(dataSchema, mapping)
    val physChangeSchema = StructType(physDataSchema.fields :+
      StructField("_change_type", org.apache.spark.sql.types.StringType))
    val frames = (fromVersion to end).flatMap { v =>
      val (cdcPaths, changeAdds) =
        commitChangePlan(spark, dir, v, allowDvAdds = true)
      if (cdcPaths.nonEmpty)
        Some(readerFor(spark, mapping).read
          .schema(physChangeSchema).parquet(cdcPaths: _*)
          .toDF(changeSchema.fieldNames.toSeq: _*)
          .withColumn("_commit_version", lit(v)))
      else if (changeAdds.isEmpty) None
      else Some {
        val ins = maskedScan(spark, hfs, rootUri, physDataSchema,
          changeAdds, Some(readerFor(spark, mapping)))
        (if (mapping.isEmpty) ins
         else ins.toDF(dataSchema.fieldNames.toSeq: _*))
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(v))
      }
    }
    if (frames.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(changeSchema.fields :+
          StructField("_commit_version", org.apache.spark.sql.types.LongType,
            nullable = false)))
    else frames.reduce(_ unionByName _)
  }
}
