package graft.sources

import java.nio.charset.StandardCharsets
import java.util.{Map => JMap}

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.CopyInto

/** STREAMING FILE-DISCOVERY source — the continuous twin of the batch
  * `COPY INTO` verb (the Auto Loader analog):
  *
  * {{{
  * spark.readStream.format("graft-files")
  *   .schema(s)                       // or inferred from one file
  *   .option("pattern", "*.parquet")  // optional glob
  *   .load("/landing/events")
  *   .writeStream.format("graft")...  // exactly-once into a TxTable
  * }}}
  *
  * Discovery contract — IDENTICAL to COPY INTO's, via the same
  * fingerprint scheme (`path|size|mtime`, [[CopyInto.fingerprint]]):
  * a file is served exactly once per content identity; a file
  * REPLACED in place (new bytes, same name) reads as new and is
  * served again. Exactly-once across restarts comes from a
  * DISCOVERY LEDGER under the stream's checkpoint directory: each
  * trigger that finds fresh files writes one immutable batch file
  * (`<checkpoint>/graft-files-ledger/<n>`) listing them, the offset
  * is just the ledger length, and replay of offset range (a, b]
  * re-reads ledger batches — the same files, byte for byte, no
  * directory-state dependence (Spark's own FileStreamSource recipe,
  * with the ledger doubling as COPY INTO's fingerprint memory).
  *
  * Scale shape: discovery is ONE driver-side globStatus per trigger
  * (the cost every file-discovery loader pays; at millions of
  * retained source files, archive ingested files out of the prefix —
  * the shared operational remedy). Serving fans out one partition
  * per file through the SAME vectorized parquet reader as the graft
  * table scan ([[GraftReaderFactory]]) — parquet is the contract
  * (csv/json land via the batch COPY INTO, which imposes the table
  * schema; a stream cannot safely infer drifting text schemas).
  * `maxFilesPerTrigger` bounds a backlog drain's batch size;
  * `archiveDir` moves durably-committed files out of the landing
  * prefix (listing stays bounded by the un-ingested tail forever).
  */
final class GraftFilesSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-files"

  private def dirOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-files source needs a directory: " +
        "spark.readStream.format(\"graft-files\").load(<dir>)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val fmt = Option(options.get("format")).getOrElse("parquet")
    require(fmt == "parquet",
      s"graft-files '$fmt' needs an EXPLICIT .schema(...) - a stream " +
        "must never infer a drifting text schema (the COPY INTO " +
        "contract: the table schema is imposed)")
    // partition columns live in PATHS, not footers — inference would
    // silently drop them from every row
    require(!Option(options.get("hivePartitions"))
        .exists(_.equalsIgnoreCase("true")),
      "graft-files with hivePartitions=true needs an EXPLICIT " +
        ".schema(...) including the partition columns - a parquet " +
        "footer cannot infer the k=v path columns")
    val src = new Path(dirOf(options))
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(src), s"graft-files source $src does not exist")
    val files = CopyInto.listSource(fs, src,
      Option(options.get("pattern")).getOrElse("*"))
    require(files.nonEmpty,
      s"graft-files cannot infer a schema from empty $src - " +
        "provide .schema(...) explicitly")
    // one footer read of the newest file (driver-side); pass an
    // explicit schema to pin evolution instead
    spark.read.parquet(files.maxBy(_.getModificationTime)
      .getPath.toString).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftFilesTable(schema, new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = true
}

final class GraftFilesTable(declared: StructType,
    options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"graft-files:${options.get("path")}"
  override def schema(): StructType = declared
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = declared
      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream =
        new GraftFilesMicroBatchStream(SparkSession.active,
          options.get("path"),
          Option(options.get("pattern")).getOrElse("*"),
          declared, checkpointLocation,
          Option(options.get("maxFilesPerTrigger")).map(_.toInt),
          Option(options.get("archiveDir")),
          Option(options.get("format")).getOrElse("parquet"),
          {
            import scala.jdk.CollectionConverters._
            options.asScala.toMap
          },
          Option(options.get("maxBytesPerPartition")).map(_.toLong),
          Option(options.get("hivePartitions"))
            .exists(_.equalsIgnoreCase("true")))
      override def description(): String = name()
    }
}

/** Offset = number of discovery-ledger batches written. */
final case class GraftFilesOffset(batches: Long) extends Offset {
  override def json(): String = batches.toString
}

final class GraftFilesMicroBatchStream(spark: SparkSession, srcDir: String,
    pattern: String, schema: StructType, checkpointLocation: String,
    maxFilesPerTrigger: Option[Int],
    archiveDir: Option[String] = None,
    /** parquet (default, vectorized) | csv | json — text formats
      * parse line-delimited records under the IMPOSED schema (never
      * inferred; the COPY INTO contract), with reader `options`
      * passed through (header, delimiter, mode, ...). */
    format: String = "parquet",
    options: Map[String, String] = Map.empty,
    /** parquet only: target bytes per input partition — a landed
      * file larger than this splits into byte ranges (row groups by
      * midpoint, the standard split contract), bounding task skew on
      * pathological single-file landings. Defaults to the session's
      * spark.sql.files.maxPartitionBytes. */
    maxBytesPerPartition: Option[Long] = None,
    /** hive-partitioned landings (`dt=2026-08-16/...`): discovery
      * recurses, and each `k=v` path segment whose name matches an
      * imposed-schema column surfaces as that column's value for
      * every row of the file (URL-decoded, cast to the declared
      * type; `__HIVE_DEFAULT_PARTITION__` reads as null) — the Auto
      * Loader partition contract. */
    hivePartitions: Boolean = false) extends MicroBatchStream
    with SupportsTriggerAvailableNow {

  maxFilesPerTrigger.foreach(n => require(n >= 1,
    s"maxFilesPerTrigger must be >= 1, got $n"))
  require(Set("parquet", "csv", "json", "avro").contains(format),
    s"graft-files supports parquet|csv|json|avro, got '$format'")
  maxBytesPerPartition.foreach(b => require(b >= 1L,
    s"maxBytesPerPartition must be >= 1, got $b"))
  // SQLConf parses the bytesConf ("128m", "1g", plain digits) — a raw
  // string toLong crashes on every human-readable form of the conf
  private val splitBytes: Long = maxBytesPerPartition.getOrElse(
    spark.sessionState.conf.filesMaxPartitionBytes)
  // captured driver-side: text parsers are timezone-aware
  private val sessionTz: String =
    spark.conf.get("spark.sql.session.timeZone", "UTC")
  archiveDir.foreach(a => require(
    a.stripSuffix("/") != srcDir.stripSuffix("/") &&
      !a.stripSuffix("/").startsWith(srcDir.stripSuffix("/") + "/"),
    s"archiveDir $a must lie outside the source directory $srcDir - " +
      "archived files would be rediscovered"))

  private val src = new Path(srcDir)
  private val fs: FileSystem =
    src.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val ledgerDir = new Path(checkpointLocation, "graft-files-ledger")

  /** Fingerprints already committed to the ledger, rebuilt from the
    * ledger files once per stream start (restart-safe), then
    * maintained in memory. Bounded by retained SOURCE file count. */
  private val seen: mutable.Set[String] = {
    val s = mutable.Set.empty[String]
    ledgerBatches.foreach(b => readBatch(b).foreach { case (fp, _) =>
      s += fp })
    s
  }
  private var batches: Long = ledgerBatches.length

  private def ledgerBatches: Seq[Long] =
    if (!fs.exists(ledgerDir)) Nil
    else fs.listStatus(ledgerDir).toSeq
      .flatMap(st => st.getPath.getName.toLongOption).sorted

  private def readBatch(b: Long): Seq[(String, String)] = {
    val in = fs.open(new Path(ledgerDir, b.toString))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { line =>
        val i = line.indexOf('\t')
        (line.take(i), line.drop(i + 1))
      }.toList
    finally in.close()
  }

  /** Write ledger batch `b` atomically (temp + rename): a driver
    * crash mid-write never leaves a torn batch that replay would
    * serve differently. */
  private def writeBatch(b: Long, files: Seq[(String, String)]): Unit = {
    fs.mkdirs(ledgerDir)
    val tmp = new Path(ledgerDir, s".${b}.tmp")
    val out = fs.create(tmp, true)
    try out.write(files.map { case (fp, p) => s"$fp\t$p" }
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp, new Path(ledgerDir, b.toString)),
      s"ledger batch $b publish failed (concurrent stream on the " +
        "same checkpoint?)")
  }

  /** Discover fresh files and extend the ledger by at most one batch
    * (capped at `maxFilesPerTrigger`; the remainder is found by the
    * next trigger — bounded work per micro-batch at any backlog). */
  private def discover(): Unit = {
    if (!fs.exists(src)) return
    val fresh = CopyInto.listSource(fs, src, pattern,
      recursive = hivePartitions)
      .filter(st => !seen(CopyInto.fingerprint(st)))
      .sortBy(_.getPath.toString)
    if (fresh.isEmpty) return
    val take = maxFilesPerTrigger.fold(fresh)(fresh.take)
    val entries = take.toSeq.map(st =>
      CopyInto.fingerprint(st) -> st.getPath.toString)
    writeBatch(batches, entries)
    entries.foreach { case (fp, _) => seen += fp }
    batches += 1
  }

  /** `Trigger.AvailableNow`: drain EVERYTHING present at prepare time
    * (chunked by maxFilesPerTrigger), then stop. */
  private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    var before = -1L
    while (before != batches) { before = batches; discover() }
    availableNowEnd = Some(batches)
  }

  override def initialOffset(): Offset = GraftFilesOffset(0L)

  override def latestOffset(): Offset = {
    if (availableNowEnd.isEmpty) discover()
    GraftFilesOffset(availableNowEnd.getOrElse(batches))
  }
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    latestOffset()
  override def reportLatestOffset(): Offset = GraftFilesOffset(batches)
  override def deserializeOffset(json: String): Offset =
    GraftFilesOffset(json.trim.toLong)
  /** With `archiveDir` set, files whose batch Spark has DURABLY
    * committed move out of the landing prefix — the "archive ingested
    * files" operational remedy automated, so the per-trigger listing
    * stays bounded by the un-ingested tail at any ingest age.
    * Idempotent via an archived-batch watermark beside the ledger;
    * already-moved (or externally removed) files are tolerated.
    * Archiving runs strictly AFTER the sink committed the batch, so
    * replay can never reference a moved file — which also means it
    * LAGS one batch (Spark commits a source batch when constructing
    * the next), so the landing prefix always retains the tail batch
    * until more data arrives. */
  override def commit(end: Offset): Unit = archiveDir.foreach { a =>
    val e = end.asInstanceOf[GraftFilesOffset].batches
    val wmPath = new Path(ledgerDir, "_archived")
    val wm: Long =
      if (!fs.exists(wmPath)) 0L
      else {
        val in = fs.open(wmPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
      }
    if (e > wm) {
      val ad = new Path(a)
      fs.mkdirs(ad)
      (wm until e).foreach { b =>
        readBatch(b).zipWithIndex.foreach { case ((fp, p), i) =>
          val srcFile = new Path(p)
          // move ONLY when the file on disk is still the bytes this
          // batch ingested (fingerprint match): a file REPLACED in
          // place after ingest belongs to a later, not-yet-committed
          // ledger batch — moving it now would strand that batch's
          // replay on a missing path and lose the new content. The
          // replaced file archives when ITS batch commits.
          val st = try Some(fs.getFileStatus(srcFile))
          catch { case _: java.io.FileNotFoundException => None }
          if (st.exists(s => graft.core.CopyInto.fingerprint(s) == fp)) {
            // batch+index prefix on fallback keeps every destination
            // unique (same-basename files from sibling subdirs, or a
            // third collision) — a file must never silently remain in
            // the landing prefix because its archive name was taken
            val dst0 = new Path(ad, srcFile.getName)
            val dst = if (fs.exists(dst0))
              new Path(ad, s"$b-$i-${srcFile.getName}") else dst0
            fs.rename(srcFile, dst)
            ()
          }
        }
      }
      val tmp = new Path(ledgerDir, "._archived.tmp")
      val out = fs.create(tmp, true)
      try out.write(e.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (fs.exists(wmPath)) fs.delete(wmPath, false)
      fs.rename(tmp, wmPath)
      ()
    }
  }
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftFilesOffset].batches
    val e = end.asInstanceOf[GraftFilesOffset].batches
    val files = (s until e).flatMap(readBatch)
    // hive mode: the k=v path segments become per-file constant
    // OVERLAYS, computed once at planning from the ledger path (a
    // replay re-reads the same path, so the values are replay-stable)
    def overlay(p0: InputPartition, path: String): InputPartition =
      if (!hivePartitions) p0
      else {
        val (idx, vals) =
          GraftFilesHive.overlayFor(srcDir, path, schema, sessionTz)
        if (idx.isEmpty) p0 else GraftFilesOverlayPartition(p0, idx, vals)
      }
    if (format == "csv" || format == "json")
      // text files parse line-delimited, whole-file (a mid-file byte
      // boundary would split a record)
      files.map { case (_, p) =>
        overlay(GraftTextPartition(p), p) }.toArray
    else if (format == "avro")
      files.map { case (_, p) =>
        overlay(GraftAvroPartition(p), p) }.toArray
    else
      files.flatMap { case (fp, p) =>
        // the ledger fingerprint is path|size|mtime — the SIZE this
        // batch ingested, so splitting needs no extra fs call and a
        // replaced-in-place file still splits by ITS batch's bytes
        val size = fp.split('|') match {
          case Array(_, sz, _) => sz.toLongOption.getOrElse(-1L)
          case _ => -1L
        }
        if (size <= splitBytes) Seq(
          overlay(GraftInputPartition(p, Array.empty), p))
        else {
          val n = ((size + splitBytes - 1) / splitBytes).toInt
          (0 until n).map { i =>
            val st = i.toLong * splitBytes
            overlay(GraftInputPartition(p, Array.empty, st,
              math.min(splitBytes, size - st)), p)
          }
        }
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftFilesReaderFactory(format, schema, options, sessionTz)
}

/** Dispatching factory for every graft-files partition shape:
  * parquet (the provider's vectorized reader, byte-range splits), csv/json
  * (line parsers), avro (container decode), each optionally wrapped
  * with the hive-partition constant overlay. */
final class GraftFilesReaderFactory(format: String, schema: StructType,
    options: Map[String, String], sessionTz: String)
    extends PartitionReaderFactory {
  private lazy val parquetF = new GraftReaderFactory(schema)
  private lazy val textF =
    new GraftTextReaderFactory(format, schema, options, sessionTz)

  // plain parquet partitions KEEP the vectorized columnar path the
  // graft scan uses (Spark requires scan-wide agreement, and a
  // parquet stream's partitions are all GraftInputPartition unless
  // hive overlays are in play)
  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition.isInstanceOf[GraftInputPartition]

  override def createColumnarReader(partition: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] =
    partition match {
      case p: GraftInputPartition => parquetF.createColumnarReader(p)
      case other => throw new IllegalStateException(
        s"columnar read requested for non-columnar partition $other")
    }

  override def createReader(partition: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] = partition match {
    case GraftFilesOverlayPartition(inner, idx, vals) =>
      new GraftOverlayReader(createReader(inner), schema, idx, vals)
    case p: GraftTextPartition => textF.createReader(p)
    case p: GraftAvroPartition => new GraftAvroReader(p.path, schema)
    case p => parquetF.createReader(p)
  }
}

/** One line-delimited csv/json file served whole (a byte split would
  * cut records; text landings are bounded by the trigger cap, and the
  * batch COPY INTO path covers bulk text loads). */
final case class GraftTextPartition(path: String) extends InputPartition

/** Executor-side line parser for the text formats: each line feeds
  * Spark's own `from_csv` / `from_json` expression machinery
  * (UnivocityParser / JacksonParser underneath — the SAME parsers
  * `spark.read.csv/json` runs, PERMISSIVE by default, `mode` et al.
  * ride the options) bound against the IMPOSED schema. Interpreted
  * eval per line is fine here: ingest is bounded by the trigger cap,
  * never the 100 TB scan path, and correctness-parity with the batch
  * reader is what matters. `header=true` skips the first line (the
  * schema is imposed, so the header is never read for names — Spark's
  * own enforceSchema default). */
final class GraftTextReaderFactory(format: String, schema: StructType,
    options: Map[String, String], sessionTz: String)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val p = partition.asInstanceOf[GraftTextPartition]
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
      import org.apache.spark.unsafe.types.UTF8String

      private val hp = new Path(p.path)
      private val in = hp.getFileSystem(
        new org.apache.hadoop.conf.Configuration()).open(hp)
      private val lines = scala.io.Source.fromInputStream(in,
        options.getOrElse("encoding", "UTF-8")).getLines()
      locally {
        if (format == "csv" &&
          options.get("header").exists(_.equalsIgnoreCase("true")) &&
          lines.hasNext) lines.next() // schema is imposed; names unused
      }
      // the source-level knobs are ours, not the parser's — Univocity
      // rejects unknown options like maxFilesPerTrigger
      private val parserOptions = options -- Seq("path", "pattern",
        "maxfilespertrigger", "archivedir", "format",
        "maxbytesperpartition", "header", "encoding")
      private val parse: org.apache.spark.sql.catalyst.expressions.Expression =
        if (format == "csv")
          org.apache.spark.sql.catalyst.expressions.CsvToStructs(
            schema, parserOptions, BoundReference(0,
              org.apache.spark.sql.types.StringType, nullable = true),
            Some(sessionTz))
        else
          org.apache.spark.sql.catalyst.expressions.JsonToStructs(
            schema, parserOptions, BoundReference(0,
              org.apache.spark.sql.types.StringType, nullable = true),
            Some(sessionTz))
      private val input = new GenericInternalRow(1)
      private var current: InternalRow = _

      override def next(): Boolean = {
        while (lines.hasNext) {
          val line = lines.next()
          if (line.nonEmpty) {
            input.update(0, UTF8String.fromString(line))
            val out = parse.eval(input)
            if (out != null) {
              // the parsers reuse their row buffer — copy per record
              current = out.asInstanceOf[InternalRow].copy()
              return true
            }
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = in.close()
    }
  }
}

/** One avro container file served whole. */
final case class GraftAvroPartition(path: String) extends InputPartition

/** A file partition plus the hive-partition CONSTANTS its path
  * carries: `idx(i)` is the imposed-schema ordinal the catalyst
  * value `vals(i)` overlays on every row. */
final case class GraftFilesOverlayPartition(inner: InputPartition,
    idx: Array[Int], vals: Array[Any]) extends InputPartition

/** Wraps any row reader, overlaying the partition-path constants —
  * hive semantics: the path value WINS over a same-named column that
  * happens to exist inside the file. */
final class GraftOverlayReader(
    inner: org.apache.spark.sql.connector.read.PartitionReader[
      org.apache.spark.sql.catalyst.InternalRow],
    schema: StructType, idx: Array[Int], vals: Array[Any])
    extends org.apache.spark.sql.connector.read.PartitionReader[
      org.apache.spark.sql.catalyst.InternalRow] {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  override def next(): Boolean = inner.next()
  override def get(): InternalRow = {
    val row = inner.get()
    val out = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      out(i) = if (row.isNullAt(i)) null else row.get(i, schema(i).dataType)
      i += 1
    }
    var j = 0
    while (j < idx.length) { out(idx(j)) = vals(j); j += 1 }
    new GenericInternalRow(out)
  }
  override def close(): Unit = inner.close()
}

object GraftFilesHive {
  /** Parse the `k=v` directory segments of `path` under `srcDir` and
    * bind them to imposed-schema columns: (ordinals, catalyst
    * values). URL-decoded, cast through Spark's own Cast to the
    * declared type; the hive null sentinel reads as null; a value
    * that fails the cast refuses loudly (serving a silently-null
    * partition column would corrupt every row of the file). */
  def overlayFor(srcDir: String, path: String, schema: StructType,
      sessionTz: String): (Array[Int], Array[Any]) = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val rel = {
      // both come from the same listing, but normalize scheme
      // differences (file:/ vs bare) by comparing path tails
      val s0 = srcDir.stripSuffix("/")
      val i = path.indexOf(s0)
      if (i >= 0) path.substring(i + s0.length).stripPrefix("/")
      else path
    }
    val segs = rel.split('/').dropRight(1) // the last segment is the file
    val idx = Array.newBuilder[Int]
    val vals = Array.newBuilder[Any]
    segs.foreach { seg =>
      val eq = seg.indexOf('=')
      if (eq > 0) {
        val k = seg.take(eq)
        // hive path escaping is %XX only — URLDecoder would corrupt a
        // literal '+' (a legal unescaped partition character) to space
        val raw = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(seg.drop(eq + 1))
        val fi = schema.fields.indexWhere(_.name.equalsIgnoreCase(k))
        if (fi >= 0) {
          val dt = schema.fields(fi).dataType
          val v: Any =
            if (raw == "__HIVE_DEFAULT_PARTITION__") null
            else {
              val cast = Cast(Literal(org.apache.spark.unsafe.types
                .UTF8String.fromString(raw),
                org.apache.spark.sql.types.StringType), dt,
                Some(sessionTz))
              val out = cast.eval(null)
              require(out != null,
                s"partition value '$raw' for column '$k' does not cast " +
                  s"to ${dt.simpleString} - refusing to null-fill a " +
                  "partition column")
              out
            }
          idx += fi
          vals += v
        }
      }
    }
    (idx.result(), vals.result())
  }
}

/** Executor-side avro container reader bound against the IMPOSED
  * schema (never inferred — the COPY INTO contract): fields resolve
  * by name (case-insensitive), flat standard types decode per the
  * avro spec's logical types (date, timestamp-millis/micros),
  * absent columns null-fill, non-flat imposed columns refuse. Uses
  * the avro-core jar Spark already ships — no spark-avro module. */
final class GraftAvroReader(path: String, schema: StructType)
    extends org.apache.spark.sql.connector.read.PartitionReader[
      org.apache.spark.sql.catalyst.InternalRow] {
  import org.apache.avro.file.DataFileStream
  import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  private val hp = new Path(path)
  private val in = hp.getFileSystem(
    new org.apache.hadoop.conf.Configuration()).open(hp)
  private val stream = new DataFileStream[GenericRecord](in,
    new GenericDatumReader[GenericRecord]())

  /** the non-null branch of a [null, T] union, else the type itself */
  private def nonNull(s: org.apache.avro.Schema): org.apache.avro.Schema =
    if (s.getType != org.apache.avro.Schema.Type.UNION) s
    else s.getTypes.stream().filter(
      _.getType != org.apache.avro.Schema.Type.NULL).findFirst()
      .orElse(s)

  private val writerSchema = stream.getSchema
  // per imposed column: the avro field position (-1 = null-fill) and
  // a converter bound to the WRITER's type
  private val binds: Array[(Int, AnyRef => Any)] =
    schema.fields.map { f =>
      val af = Option(writerSchema.getField(f.name)).orElse(
        writerSchema.getFields.stream()
          .filter(_.name().equalsIgnoreCase(f.name)).findFirst() match {
          case o if o.isPresent => Some(o.get)
          case _ => None
        })
      af match {
        case None => (-1, null: AnyRef => Any)
        case Some(field) =>
          val at = nonNull(field.schema())
          val logical = Option(at.getLogicalType).map(_.getName)
          val conv: AnyRef => Any = (f.dataType, at.getType) match {
            case (StringType, org.apache.avro.Schema.Type.STRING |
                org.apache.avro.Schema.Type.ENUM) =>
              v => UTF8String.fromString(v.toString)
            case (IntegerType | DateType,
                org.apache.avro.Schema.Type.INT) =>
              v => v.asInstanceOf[Number].intValue()
            case (LongType, org.apache.avro.Schema.Type.INT |
                org.apache.avro.Schema.Type.LONG) =>
              v => v.asInstanceOf[Number].longValue()
            case (TimestampType | TimestampNTZType,
                org.apache.avro.Schema.Type.LONG) =>
              // logical timestamp-millis widens to micros; micros
              // (and bare longs, best effort) pass through
              if (logical.contains("timestamp-millis"))
                v => v.asInstanceOf[Number].longValue() * 1000L
              else v => v.asInstanceOf[Number].longValue()
            case (FloatType, org.apache.avro.Schema.Type.FLOAT) =>
              v => v.asInstanceOf[Number].floatValue()
            case (DoubleType, org.apache.avro.Schema.Type.FLOAT |
                org.apache.avro.Schema.Type.DOUBLE) =>
              v => v.asInstanceOf[Number].doubleValue()
            case (BooleanType, org.apache.avro.Schema.Type.BOOLEAN) =>
              v => v.asInstanceOf[Boolean]
            case (BinaryType, org.apache.avro.Schema.Type.BYTES) =>
              v => {
                val bb = v.asInstanceOf[java.nio.ByteBuffer]
                val arr = new Array[Byte](bb.remaining())
                bb.duplicate().get(arr); arr
              }
            case (BinaryType, org.apache.avro.Schema.Type.FIXED) =>
              v => v.asInstanceOf[
                org.apache.avro.generic.GenericFixed].bytes().clone()
            case (dt, other) => throw new UnsupportedOperationException(
              s"graft-files avro does not decode writer type $other " +
                s"into ${dt.simpleString} for column '${f.name}'")
          }
          (field.pos(), conv)
      }
    }

  private var current: InternalRow = _
  override def next(): Boolean = {
    if (!stream.hasNext) return false
    val rec = stream.next()
    val vals = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      val (pos, conv) = binds(i)
      val v = if (pos < 0) null else rec.get(pos)
      vals(i) = if (v == null) null else conv(v.asInstanceOf[AnyRef])
      i += 1
    }
    current = new GenericInternalRow(vals)
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = stream.close() // closes in
}
