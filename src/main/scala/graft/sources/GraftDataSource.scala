package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.TxTable

/** DATASOURCE V2 PROVIDER for [[TxTable]] — the SQL surface the
  * reference implies (every read path in its repository layer is SQL
  * text against the store, `services/api/src/repository.ts`;
  * `src/index.ts:183-194`): `spark.read.format("graft").load(dir)`
  * and, through a registered view, plain `spark.sql(...)` serve
  * SNAPSHOT-ISOLATED reads of a transactional graft table with the
  * table's own metadata pruning, all via public Spark connector API
  * (`TableProvider` / `ScanBuilder` / `PartitionReader`).
  *
  * Design for 100 TB:
  *  - the version is pinned when the relation is created, so a query
  *    plan never sees a concurrent commit (the same read-after-swap
  *    guarantee `TxTable.read` gives the Scala API);
  *  - pushed filters run through the SAME zone-map + parquet-bloom
  *    pruning as `scanWhere` (driver-side manifest metadata, zero data
  *    I/O), then each surviving file becomes ONE `InputPartition`, so
  *    a 1000-executor cluster fans out file-parallel with no central
  *    scan state; filters are also RE-evaluated by Spark above the
  *    scan (pruning is best-effort, correctness never depends on it);
  *  - column pruning reaches the parquet reader as a projected read
  *    schema — unrequested columns are never materialized;
  *  - merge-on-read deletion vectors apply INSIDE the partition
  *    reader: each reader loads only its own file's tombstone
  *    positions (basename-keyed sidecar rows) and masks them by row
  *    index batch by batch, so a DV'd table reads correctly through
  *    plain SQL with no extra shuffle.
  *
  * Decode is Spark's OWN vectorized parquet reader, handing back
  * ColumnarBatches ([[GraftColumnarReader]], the one reader): clean
  * batches pass through zero-copy, batches holding tombstones compact
  * their survivors. Maintenance (`materializeDeletes`, compaction)
  * folds DVs and restores the zero-copy path.
  *
  * Writes route THROUGH the guarded commit protocol, never around it:
  * the V1 write bridge ([[GraftWriteBuilder]]) hands the resolved
  * insert frame to `TxTable.append`/`replace`, so `INSERT INTO` pays
  * the same CHECK admission pass, key bucketing, bloom layout and
  * optimistic CAS as the Scala API. Tables created before the
  * `_table.json` descriptor existed refuse SQL writes (unknown key
  * columns would bucket rows wrongly) rather than corrupting layout.
  */
final class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  private def dirOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft source needs a table directory: " +
        "spark.read.format(\"graft\").load(<txtable dir>)")
    p
  }

  private def wantsCdf(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("readChangeFeed")).exists(_.equalsIgnoreCase("true"))

  private def wantsIcebergTail(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("icebergTail")).exists(_.equalsIgnoreCase("true"))

  private def wantsIcebergChanges(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("icebergChanges")).exists(_.equalsIgnoreCase("true"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = dirOf(options)
    if (wantsCdf(options)) return new GraftCdfTable(dir).schema()
    if (wantsIcebergChanges(options))
      return new GraftIcebergTailTable(dir, changes = true).schema()
    if (wantsIcebergTail(options))
      return new GraftIcebergTailTable(dir).schema()
    val tx = GraftDataSource.openForRead(SparkSession.active, dir)
    GraftDataSource.asOfFrom(tx, options)
      .map(tx.schemaAtVersion).getOrElse(tx.currentSchema)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val dir = dirOf(opts)
    // readChangeFeed=true: the streaming CDF surface over the
    // cdf-exported Delta log (see GraftCdfStream)
    if (wantsCdf(opts)) return new GraftCdfTable(dir)
    // icebergChanges=true: the changelog stream — mutation snapshots
    // served as a _change_type-tagged retraction feed
    if (wantsIcebergChanges(opts))
      return new GraftIcebergTailTable(dir, changes = true)
    // icebergTail=true: the snapshot-tail stream over a foreign
    // Iceberg v2 tree (see GraftIcebergTail)
    if (wantsIcebergTail(opts)) return new GraftIcebergTailTable(dir)
    val tx = GraftDataSource.openForRead(SparkSession.active, dir)
    new GraftTable(dir, schema, GraftDataSource.asOfFrom(tx, opts))
  }

  override def supportsExternalMetadata(): Boolean = false
}

object GraftDataSource {
  /** Opt-in for bucket-grouped (storage-partitioned) scans — see
    * `GraftScan.grouped`. */
  val PreserveGroupingConf = "spark.sql.graft.preserveDataGrouping"

  /** Open an existing table directory for reading only. The declared
    * schema and key list matter only to write paths; reads resolve the
    * schema from the manifest's `#schema` header, and the read-side
    * bloom probe is conservative for any column without a written
    * filter. Legacy manifests (pre-self-describing commits) lack the
    * header — for those the schema comes from a data-file footer
    * (driver-side, one footer; sound because every schema-evolution
    * commit DOES write the header, so a headerless table is
    * single-schema). */
  private[graft] def openForRead(spark: SparkSession, dir: String): TxTable = {
    // the _table.json descriptor restores the WRITE identity (keys /
    // buckets / blooms) so SQL inserts stage correctly bucketed rows;
    // descriptor-less tables open with placeholder keys — reads are
    // unaffected, writes are refused (see GraftWriteBuilder)
    val probe = TxTable.openReadOnly(spark, dir)
    val v = probe.currentVersion
    if (v < 0 || probe.currentSchema.nonEmpty) probe
    else {
      val (_, files) = probe.providerSnapshot(v, None)
      require(files.nonEmpty,
        s"$dir has a headerless manifest and no data files to infer from")
      val inferred = spark.read.parquet(files.head._1).schema
      new TxTable(spark, dir, inferred, probe.keys,
        numBuckets = probe.numBuckets, bloomCols = probe.bloomCols)
    }
  }

  /** TIME TRAVEL from read options: `versionAsOf` pins an exact
    * retained version; `timestampAsOf` (epoch millis, or a
    * `yyyy-MM-dd HH:mm:ss` literal) resolves to the latest version
    * committed at or before that instant via manifest publish times —
    * the same semantics the Scala API's `readVersion`/history give. */
  private[sources] def asOfFrom(tx: TxTable,
      options: CaseInsensitiveStringMap): Option[Long] = {
    // non-numeric versionAsOf = a named ref (tag) on the table
    val v = Option(options.get("versionAsOf")).map(raw =>
      if (raw.nonEmpty && raw.forall(_.isDigit)) raw.toLong
      else tx.resolveRef(raw))
    val tsRaw = Option(options.get("timestampAsOf"))
    require(v.isEmpty || tsRaw.isEmpty,
      "give versionAsOf OR timestampAsOf, not both")
    v.orElse(tsRaw.map { raw =>
      val ms =
        if (raw.nonEmpty && raw.forall(_.isDigit)) raw.toLong
        else java.sql.Timestamp.valueOf(raw).getTime
      tx.versionAsOfTimestamp(ms).getOrElse(throw
        new IllegalArgumentException(
          s"no commit of ${tx.dir} at or before $raw"))
    })
  }

  /** Translate a DSv2 source filter into a Column the zone-map
    * evaluator understands. None = shape we don't prune on (Spark
    * still evaluates it above the scan). */
  private[sources] def translate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case And(l, r) =>
      for (lc <- translate(l); rc <- translate(r)) yield lc && rc
    case Or(l, r) =>
      for (lc <- translate(l); rc <- translate(r)) yield lc || rc
    case _ => None
  }
}

/** One relation = one pinned table version (snapshot isolation).
  * Writes are served through the V1 write bridge
  * ([[GraftWriteBuilder]]) so `INSERT INTO` / `INSERT OVERWRITE` /
  * `df.writeTo(...).append()` route INTO the guarded commit protocol
  * — CHECK admission, key bucketing, bloom layout, optimistic CAS —
  * never around it. */
object GraftTable {
  /** Metadata-column names: the physical row identity (file basename +
    * row position) the provider's reader computes anyway for DV
    * masking — exposed so row-level SQL (UPDATE / MERGE / subquery
    * DELETE) can address rows exactly, duplicate keys and all. */
  val FileCol = "_graft_file"
  val PosCol = "_graft_pos"
}

final class GraftTable(val dir: String, declaredSchema: StructType,
    asOf: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  private val spark = SparkSession.active
  private[graft] val tx = GraftDataSource.openForRead(spark, dir)
  private[graft] val pinnedVersion: Long = asOf match {
    case Some(v) =>
      require(tx.versions.contains(v),
        s"version $v of $dir is not retained " +
          s"(${tx.versions.headOption.getOrElse(-1L)}..${tx.currentVersion})")
      v
    case None => tx.currentVersion
  }
  /** `declaredSchema == null` (the catalog path) means "derive from MY
    * pinned version" — resolving schema and pin in one open kills the
    * TOCTOU where a schema-evolving commit lands between a caller's
    * schema read and this constructor's version pin. */
  private[graft] val resolvedSchema: StructType =
    if (declaredSchema != null) declaredSchema
    else if (pinnedVersion < 0) new StructType()
    else tx.schemaAtVersion(pinnedVersion)

  override def name(): String = s"graft:`$dir`@v$pinnedVersion"
  override def schema(): StructType = resolvedSchema

  /** `DESCRIBE TABLE EXTENDED` / `SHOW TBLPROPERTIES` surface: the
    * physical-layout identity and the pinned snapshot, read from the
    * already-open table (no extra I/O). */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    // user TBLPROPERTIES first: the physical-identity keys below are
    // authoritative and must never be shadowed by a user pair
    tx.tableProperties.foreach { case (k, v) => m.put(k, v) }
    if (!tx.keys.contains("__reader__")) {
      m.put("keys", tx.logicalKeys.mkString(","))
      m.put("buckets", tx.numBuckets.toString)
      if (tx.bloomCols.nonEmpty) m.put("blooms", tx.bloomCols.mkString(","))
    }
    m.put("version", pinnedVersion.toString)
    m
  }
  override def capabilities(): java.util.Set[TableCapability] =
    // AUTOMATIC_SCHEMA_EVOLUTION: `MERGE … WITH SCHEMA EVOLUTION`
    // widens the table through the catalog's AddColumn path before
    // the row-level rewrite plans — the same nullable-append
    // contract appendEvolving enforces
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val sv = Option(options.get("startingVersion")).map(_.toLong)
    val st = Option(options.get("startingTimestamp"))
    require(sv.isEmpty || st.isEmpty,
      "give startingVersion OR startingTimestamp, not both")
    // startingTimestamp = serve every commit published AT or AFTER the
    // instant: the stream's start offset is the newest version strictly
    // BEFORE it (its successors are the first batches); a timestamp
    // predating the whole history starts from scratch
    val start = sv.orElse(st.map { raw =>
      val ms =
        if (raw.nonEmpty && raw.forall(_.isDigit)) raw.toLong
        else java.sql.Timestamp.valueOf(raw).getTime
      tx.versionAsOfTimestamp(ms - 1).getOrElse(-1L)
    })
    new GraftScanBuilder(tx, pinnedVersion, resolvedSchema, start,
      Option(options.get("maxVersionsPerTrigger")).map(_.toLong))
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(asOf.isEmpty,
      "cannot write to a time-traveled relation " +
        "(VERSION/TIMESTAMP AS OF is read-only; use restore() to roll back)")
    // upsert-mode writers additionally accept outputMode("update")
    // streams (the marker interface is Spark's opt-in for that); a
    // plain builder keeps Spark's own "sink does not support Update"
    // refusal, because update-as-blind-append would duplicate keys
    if (GraftWriteBuilder.upsertRequested(info.options()))
      new GraftWriteBuilder(tx, resolvedSchema, info)
        with org.apache.spark.sql.internal.connector
          .SupportsStreamingUpdateAsAppend
    else new GraftWriteBuilder(tx, resolvedSchema, info)
  }

  /** `DELETE FROM …` when every predicate translates: served by the
    * MERGE-ON-READ delete (deletion-vector sidecars, zero data-file
    * rewrites — the cheapest correct delete at any scale; later reads
    * mask, `materializeDeletes`/compaction folds). Untranslatable
    * predicates report false and Spark raises the standard
    * can't-delete error instead of us guessing. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    asOf.isEmpty &&
      filters.forall(f => GraftDataSource.translate(f).isDefined)
  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(asOf.isEmpty, "cannot DELETE from a time-traveled relation")
    val pred = filters.flatMap(GraftDataSource.translate(_))
      .reduceOption(_ && _).getOrElse(lit(true))
    tx.deleteWhereLight(pred)
  }

  /** `TRUNCATE TABLE …` — the table's own truncate: an empty version
    * commit, history retained (restore() undoes it). */
  override def truncateTable(): Boolean = {
    require(asOf.isEmpty, "cannot TRUNCATE a time-traveled relation")
    tx.truncate()
    true
  }

  /** The table's physical layout as a DSv2 transform — `bucket(n,
    * keys…)`, resolvable through the catalog's [[GraftBucketFunction]]
    * — so Spark can prove two co-bucketed graft tables are co-located
    * and elide the join shuffle (storage-partitioned joins; enable
    * `spark.sql.graft.preserveDataGrouping`). */
  override def partitioning(): Array[Transform] =
    if (tx.keys.contains("__reader__") ||
        !tx.logicalKeys.forall(resolvedSchema.fieldNames.contains)) Array.empty
    else Array(org.apache.spark.sql.connector.expressions.Expressions
      .bucket(tx.numBuckets, tx.logicalKeys: _*))

  /** Non-nullable row-identity metadata columns (see
    * [[GraftTable.FileCol]]) — `SELECT _graft_file, _graft_pos` works
    * for diagnostics, and the row-level operations key on them. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = Array(
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftTable.FileCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "data file basename of the row"
    },
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftTable.PosCol
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "physical row position within the data file"
    })

  /** `UPDATE` / `MERGE INTO` / subquery `DELETE` — delta-based
    * row-level operations over the deletion-vector machinery (see
    * [[GraftRowLevelOperation]]). Filter-translatable `DELETE FROM`
    * still takes the cheaper metadata-only path above (Spark's
    * optimizer swaps it back in when `canDeleteWhere` agrees). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOf.isEmpty,
      "cannot UPDATE/MERGE a time-traveled relation " +
        "(VERSION/TIMESTAMP AS OF is read-only)")
    new GraftRowLevelOperationBuilder(this, info)
  }
}

/** SQL write path via Spark's V1 write bridge (`V1Write` →
  * `InsertableRelation` — the public DSv2-to-DataFrame fallback that
  * table formats use precisely so the format's OWN commit protocol
  * does the writing): append = `TxTable.append` (CHECK-enforced,
  * bucketed, bloom'd, CAS-committed), INSERT OVERWRITE = `replace`.
  * The incoming frame conforms to the table schema positionally (the
  * SQL INSERT contract) with a cast per column. Writes are refused on
  * descriptor-less legacy tables — appending with unknown key columns
  * would bucket rows wrongly and corrupt bucket pruning forever. */
object GraftWriteBuilder {
  /** `.option("graft.mode", "upsert")` on the writer — last-writer-
    * wins by the table keys instead of append, for both batch saves
    * and streaming epochs. */
  private[sources] def upsertRequested(
      options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("graft.mode")).exists { m =>
      require(m.equalsIgnoreCase("append") || m.equalsIgnoreCase("upsert"),
        s"unknown graft.mode '$m' (append | upsert)")
      m.equalsIgnoreCase("upsert")
    }

  /** The SQL-INSERT conformance contract, shared by the plain insert
    * bridge and the staged CTAS/RTAS writer: columns match the table
    * POSITIONALLY (renamed to the stored spellings) with a cast per
    * column, arity mismatches refused with a curated message. */
  private[sources] def conformPositional(
      data: org.apache.spark.sql.DataFrame,
      target: StructType): org.apache.spark.sql.DataFrame = {
    require(data.schema.length == target.length,
      s"INSERT provides ${data.schema.length} columns, table has " +
        s"${target.length}")
    data.toDF(target.fieldNames.toIndexedSeq: _*)
      .select(target.fields.toIndexedSeq
        .map(f => col(f.name).cast(f.dataType)): _*)
  }
}

class GraftWriteBuilder(tx: TxTable, tableSchema: StructType,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var overwriteAll = false
  private val upsertMode = GraftWriteBuilder.upsertRequested(info.options())

  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    overwriteAll = true
    this
  }

  private def requireDescriptor(): Unit =
    require(!tx.keys.contains("__reader__"),
      s"${tx.dir} has no _table.json write descriptor (created " +
        "before round 12): SQL writes need the key columns to " +
        "bucket correctly - write once through the Scala API " +
        "(which records the descriptor) or add _table.json")

  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      override def toInsertableRelation: InsertableRelation =
        new InsertableRelation {
          override def insert(data: org.apache.spark.sql.DataFrame,
              overwrite: Boolean): Unit = {
            requireDescriptor()
            val conformed =
              GraftWriteBuilder.conformPositional(data, tableSchema)
            if (overwriteAll || overwrite) tx.replace(conformed)
            else if (upsertMode) tx.upsert(conformed)
            else tx.append(conformed)
          }
        }

      /** `writeStream.format("graft")` / `.toTable("lake.t")` — the
        * exactly-once micro-batch sink (see [[GraftStreamingWrite]]).
        * The replay-ledger tag defaults to the streaming query id
        * (stable across restarts from one checkpoint);
        * `.option("graft.tag", …)` overrides for pipelines that
        * re-checkpoint but must keep one ledger. */
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        requireDescriptor()
        val mode =
          if (overwriteAll) GraftStreamSink.ReplaceMode
          else if (upsertMode) GraftStreamSink.UpsertMode
          else GraftStreamSink.AppendMode
        if (mode == GraftStreamSink.UpsertMode)
          require(tx.keys.nonEmpty,
            s"graft.mode=upsert needs key columns; ${tx.dir} has none")
        // `.option("graft.evolve", "true")`: batches carrying NEW
        // columns widen the table schema in the same atomic commit
        // (schema-drifting log pipelines); without it unknown columns
        // are refused. Complete mode replaces the whole table, so
        // evolution through it would be an accident, not a policy.
        val evolve = Option(info.options().get("graft.evolve"))
          .exists(_.equalsIgnoreCase("true"))
        require(!(evolve && mode == GraftStreamSink.ReplaceMode),
          "graft.evolve is for append/upsert ingest; outputMode(complete) " +
            "replaces the table - evolve its schema explicitly instead")
        val tag = Option(info.options().get("graft.tag"))
          .getOrElse(info.queryId())
        // the tag names a stage DIRECTORY and a commit-meta key: path
        // separators or colons would break both contracts silently
        require(tag.matches("[A-Za-z0-9._-]+"),
          s"graft.tag '$tag' must match [A-Za-z0-9._-]+ " +
            "(it names the stage directory and the ledger key)")
        new GraftStreamingWrite(tx.dir, info.schema(), tag, mode, evolve)
      }
    }
}

final class GraftScanBuilder(tx: TxTable, version: Long,
    fullSchema: StructType, startingVersion: Option[Long] = None,
    maxVersionsPerTrigger: Option[Long] = None)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggPushed: Option[(StructType, Array[Any])] = None

  /** Every filter is returned as a residual (Spark re-evaluates —
    * manifest pruning is file-granular, not row-exact); the
    * translatable subset is additionally reported as pushed so
    * EXPLAIN shows what the provider prunes with. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => GraftDataSource.translate(f).isDefined)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** AGGREGATE PUSHDOWN — answer whole-table `COUNT(*)` / `MIN` /
    * `MAX` from manifest metadata: footer row counts minus DV
    * tombstones for the count; zone-map extrema for min/max. Zero
    * data I/O at ANY table size — the `SELECT count(*)` fast path of
    * the table format, surfaced to pure SQL. Honesty gates, each
    * declining to a normal scan (never a wrong answer):
    *  - any file without recorded stats → decline everything;
    *  - MIN/MAX only on DV-free snapshots (a tombstone could hide
    *    the extreme row) and only for numeric/date/timestamp/boolean
    *    columns (string footer stats are TRUNCATED at 64 chars —
    *    fine for pruning, unsound as exact answers);
    *  - any filter present → Spark never offers the pushdown (our
    *    filters are always residual), so filtered aggregates stay
    *    row-exact. */
  // memo keyed on the Aggregation INSTANCE: supportCompletePushDown
  // and pushAggregation each answer for exactly the aggregation they
  // were handed (no call-order assumption), but the usual probe+push
  // pair on the same instance pays ONE manifest read, not two
  private var aggMemo
      : Option[(AnyRef, Option[(StructType, Array[Any])])] = None
  private def computeAggMemo(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Any])] = aggMemo match {
    case Some((ref, res)) if ref eq agg => res
    case _ =>
      val res = computeAgg(agg)
      aggMemo = Some((agg, res))
      res
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = computeAggMemo(agg).isDefined
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    aggPushed = computeAggMemo(agg)
    aggPushed.isDefined
  }

  private def computeAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Any])] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (agg.groupByExpressions().nonEmpty || pushed.nonEmpty) return None
    val (s, entries) = tx.providerAggSnapshot(version)
    if (entries.exists(_._1.isEmpty)) return None // a stats-less file
    val stats = entries.map(_._1.get)
    val anyDv = entries.exists(_._2 > 0L)
    val liveRows = stats.map(_.rows).sum - entries.map(_._2).sum

    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        s.fields.find(_.name == nr.fieldNames().head)
      case _ => None
    }
    def extremum(f: StructField, wantMin: Boolean): Option[Any] = {
      if (anyDv || !StatValues.extremeOk(f.dataType)) return None
      // stats documents are keyed by the PHYSICAL column name (f is a
      // declared-schema field, so its mapping metadata rides along)
      val statKey = tx.physicalFieldName(f)
      val per = stats.map { st =>
        st.cols.get(statKey) match {
          case Some(cs) => // (None, None) = all-null file: no value
            if (wantMin) cs.min else cs.max
          case None if st.rows == 0L => None // empty file: no value
          case None => return None // rows but no recorded stats
        }
      }
      val vals = per.flatten
      if (vals.isEmpty) Some(null) // every row null (or no rows)
      else StatValues.ordering(vals.head) match {
        case None => None
        case Some(ord) =>
          val ext = if (wantMin) vals.min(ord) else vals.max(ord)
          Some(StatValues.toCatalyst(ext, f.dataType))
      }
    }

    val fields = Seq.newBuilder[StructField]
    val values = Seq.newBuilder[Any]
    agg.aggregateExpressions().foreach {
      case _: CountStar =>
        fields += StructField("count_star", LongType, nullable = false)
        values += liveRows
      case m: Min =>
        val f = colOf(m.column()).getOrElse(return None)
        val v = extremum(f, wantMin = true).getOrElse(return None)
        fields += StructField(s"min_${f.name}", f.dataType, nullable = true)
        values += v
      case m: Max =>
        val f = colOf(m.column()).getOrElse(return None)
        val v = extremum(f, wantMin = false).getOrElse(return None)
        fields += StructField(s"max_${f.name}", f.dataType, nullable = true)
        values += v
      case _ => return None // COUNT(col)/SUM/AVG: not manifest-derivable
    }
    Some((StructType(fields.result()), values.result().toArray))
  }

  override def build(): Scan = aggPushed match {
    case Some((aggSchema, values)) =>
      new GraftAggScan(tx.dir, version, aggSchema, values)
    case None =>
      new GraftScan(tx, version, required, pushed, startingVersion,
        maxVersionsPerTrigger)
  }
}

/** The one-row scan serving a pushed-down whole-table aggregate —
  * the values were computed from manifest metadata at plan time; no
  * data file is ever opened. */
final class GraftAggScan(dir: String, version: Long,
    aggSchema: StructType, values: Array[Any]) extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftAggScan `$dir`@v$version metadata-only: " +
      aggSchema.fieldNames.mkString(", ")
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftAggReaderFactory
}

final case class GraftAggPartition(values: Array[Any]) extends InputPartition

final class GraftAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = new PartitionReader[InternalRow] {
    private val vals = p.asInstanceOf[GraftAggPartition].values
    private var served = false
    override def next(): Boolean = { val n = !served; served = true; n }
    override def get(): InternalRow = new GenericInternalRow(vals)
    override def close(): Unit = ()
  }
}

/** Shared manifest-stat value semantics for the aggregate pushdown
  * and the planner's column statistics: which types carry
  * full-fidelity footer extrema (strings TRUNCATE at 64 chars;
  * decimals/binary go unrecorded), how the stored external values
  * order, and their Catalyst-internal form. */
private[sources] object StatValues {
  def extremeOk(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | FloatType | DoubleType | BooleanType => true
    case _ => false
  }
  def toCatalyst(v: Any, dt: DataType): Any = (v, dt) match {
    case (n: Long, ByteType)    => n.toByte
    case (n: Long, ShortType)   => n.toShort
    case (n: Long, IntegerType | DateType) => n.toInt
    case (n: Long, LongType | TimestampType) => n
    case (d: Double, FloatType) => d.toFloat
    case (d: Double, DoubleType) => d
    case (b: Boolean, BooleanType) => b
    case _ => null
  }
  def ordering(sample: Any): Option[Ordering[Any]] = sample match {
    case _: Long    => Some(Ordering.Long.on[Any](_.asInstanceOf[Long]))
    case _: Double  => Some(Ordering.Double.TotalOrdering
      .on[Any](_.asInstanceOf[Double]))
    case _: Boolean => Some(Ordering.Boolean.on[Any](_.asInstanceOf[Boolean]))
    case _ => None
  }
}

/** One parquet file — or a BYTE RANGE of one (`length` < 0 = whole
  * file): row groups whose midpoint falls inside [start, start+length)
  * are served, the standard split contract, so a huge landed file
  * fans out to several tasks instead of one. Ranged partitions are
  * only planned where row identity doesn't matter (the graft-files
  * ingest source): positions restart per range, so DV masking and
  * `_graft_pos` must stay whole-file. */
final case class GraftInputPartition(path: String, dvPaths: Array[String],
    start: Long = 0L, length: Long = -1L)
    extends InputPartition {
  require(length < 0 || dvPaths.isEmpty,
    "a byte-ranged partition cannot mask deletion vectors - positions " +
      "restart per range")
}

/** One manifest bucket's files as a single partition (the
  * storage-partitioned mode): the partition key IS the bucket id, the
  * value `bucket(n, keys…)` evaluates to for every row inside. */
final case class GraftBucketPartition(bucket: Int, paths: Array[String],
    dvPaths: Array[Array[String]]) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

/** Sequential chain of per-file readers (bucket partitions hold many
  * files); opens each lazily, closes as it drains. */
private[sources] final class GraftChainReader[T](
    makers: Seq[() => PartitionReader[T]]) extends PartitionReader[T] {
  private var cur: PartitionReader[T] = _
  private var idx = 0
  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (idx >= makers.length) return false
        cur = makers(idx)()
        idx += 1
      }
      if (cur.next()) return true
      cur.close()
      cur = null
    }
    false
  }
  override def get(): T = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}

final class GraftScan(tx: TxTable, version: Long, required: StructType,
    pushed: Array[Filter], startingVersion: Option[Long] = None,
    maxVersionsPerTrigger: Option[Long] = None)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering
    with SupportsReportPartitioning {

  /** STORAGE-PARTITIONED mode, opt-in via graft's OWN conf
    * `spark.sql.graft.preserveDataGrouping` (the Iceberg
    * `preserve-data-grouping` analog — Spark 4's
    * `spark.sql.sources.v2.bucketing.enabled` is on BY DEFAULT, so it
    * cannot gate a trade-off this sharp): files group into ONE
    * InputPartition per manifest bucket (key = bucket id, every
    * bucket present so co-bucketed sides always expose identical key
    * sets) and the scan reports `KeyGroupedPartitioning(bucket(n,
    * keys…))` — a join of two graft tables with the same keys and
    * bucket count then runs with ZERO shuffle on either side, and a
    * keyed GROUP BY aggregates in one stage. The trade is scan
    * fan-out bounded by the bucket count — exactly why it is opt-in
    * per workload; plain scans keep file-per-partition parallelism.
    * Requires the key columns in the scan output (otherwise the
    * transform can't resolve and grouping would only cost
    * parallelism). */
  private lazy val grouped: Boolean =
    SparkSession.active.conf
      .get(GraftDataSource.PreserveGroupingConf, "false") == "true" &&
      !tx.keys.contains("__reader__") &&
      tx.logicalKeys.forall(required.fieldNames.contains)

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (grouped) {
      import org.apache.spark.sql.connector.expressions.Expressions
      // the transform NAME is the hash family: an iceberg-hash side
      // must never resolve to the same function as a spark-hash side,
      // or SPJ would zip bucket ids computed by different hashes
      val transform =
        if (tx.bucketHash == graft.core.TxTable.IcebergBucketHash)
          Expressions.apply("iceberg_bucket",
            (Expressions.literal(tx.numBuckets) +:
              tx.logicalKeys.map(Expressions.column)): _*)
        else Expressions.bucket(tx.numBuckets, tx.logicalKeys: _*)
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(Array(transform), tx.numBuckets)
    } else
      new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(0)
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(tx, required, startingVersion,
      maxVersionsPerTrigger,
      schemaVersion = if (version >= 0) Some(version) else None)
  override def description(): String = {
    val p = pushed.map(_.toString).mkString(", ")
    s"GraftScan ${tx.dir}@v$version PushedFilters: [$p]"
  }

  /** PLANNING STATISTICS from the manifest (pruned by the pushed
    * filters): exact live row counts from footer stats, bytes from
    * one file-status per surviving file. Without this a DSv2 relation
    * defaults to "unknown = huge" and Spark never broadcasts a small
    * provider table — at cluster scale that's the difference between
    * a broadcast hash join and a full shuffle of the big side. */
  override def estimateStatistics(): Statistics = {
    val pred = pushed.flatMap(GraftDataSource.translate(_))
      .reduceOption(_ && _)
    // ONE manifest pass serves bytes/rows and the column-stats fold
    val (bytes, rows, statsSchema, statEntries) =
      tx.providerStatsFull(version, pred)
    // COLUMN STATISTICS from the surviving files' zone maps (estimate
    // grade — DV'd rows may inflate null counts/extrema slightly,
    // which is what planner estimates are for): min/max for
    // full-fidelity numeric/temporal/boolean columns, null counts
    // when every file recorded them. CBO's join-size and filter
    // selectivity estimates read these when enabled.
    val colStats: java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      // the per-file stats were already parsed for the row count —
      // fold them into column stats only when CBO will read them
      // (off by default; the fold itself is the only extra cost)
      val cboOn = SparkSession.active.conf
        .get("spark.sql.cbo.enabled", "false") == "true"
      val (s, entries) =
        if (cboOn) (statsSchema, statEntries)
        else (new StructType(), Nil: Seq[(Option[
          graft.core.FileStats.Stats], Long)])
      val stats = entries.flatMap(_._1)
      // ANALYZE-declared NDV / string lengths (TxTable.analyzeColumns)
      // join the zone-map extremes: distinctCount is what CBO's join
      // cardinality estimation actually keys on
      val analysis: Map[String, graft.core.TxTable.ColAnalysis] =
        if (cboOn)
          tx.columnAnalysis
            .map(_._2.map { case (k, a) => k.toLowerCase -> a })
            .getOrElse(Map.empty)
        else Map.empty
      val haveFileStats = stats.length == entries.length && stats.nonEmpty
      if (cboOn) {
        required.fields.foreach { f =>
          val extremes: Option[(Any, Any, Option[Long])] =
            if (!haveFileStats || !StatValues.extremeOk(f.dataType)) None
            else {
              // stats keyed by physical name; `f` is a pruned-schema
              // field, so resolve through the declared schema `s`
              val declared = s.fields.find(_.name.equalsIgnoreCase(f.name))
              val statKey =
                declared.map(tx.physicalFieldName).getOrElse(f.name)
              val per = stats.map(_.cols.get(statKey))
              if (per.forall(_.isDefined) && declared.isDefined) {
                val cs = per.flatten
                val mins = cs.flatMap(_.min)
                val maxs = cs.flatMap(_.max)
                val nulls = cs.map(_.nulls)
                val nullsTotal =
                  if (nulls.forall(_ >= 0L)) Some(nulls.sum) else None
                val ord = mins.headOption.flatMap(StatValues.ordering)
                if (mins.nonEmpty && ord.isDefined)
                  Some((StatValues.toCatalyst(mins.min(ord.get), f.dataType),
                    StatValues.toCatalyst(maxs.max(ord.get), f.dataType),
                    nullsTotal))
                else None
              } else None
            }
          val an = analysis.get(f.name.toLowerCase)
          if (extremes.nonEmpty || an.nonEmpty) {
            out.put(
              org.apache.spark.sql.connector.expressions.Expressions
                .column(f.name),
              new org.apache.spark.sql.connector.read.colstats
                  .ColumnStatistics {
                override def min(): java.util.Optional[Object] =
                  extremes.map(e => java.util.Optional.ofNullable(
                    e._1.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty[Object]())
                override def max(): java.util.Optional[Object] =
                  extremes.map(e => java.util.Optional.ofNullable(
                    e._2.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty[Object]())
                override def nullCount(): java.util.OptionalLong =
                  extremes.flatMap(_._3)
                    .map(n => java.util.OptionalLong.of(n))
                    .getOrElse(java.util.OptionalLong.empty())
                override def distinctCount(): java.util.OptionalLong =
                  an.map(a => java.util.OptionalLong.of(a.ndv))
                    .getOrElse(java.util.OptionalLong.empty())
                override def avgLen(): java.util.OptionalLong =
                  an.flatMap(_.avgLen)
                    .map(x => java.util.OptionalLong.of(math.ceil(x).toLong))
                    .getOrElse(java.util.OptionalLong.empty())
                override def maxLen(): java.util.OptionalLong =
                  an.flatMap(_.maxLen)
                    .map(x => java.util.OptionalLong.of(x))
                    .getOrElse(java.util.OptionalLong.empty())
                // the ANALYZE-declared equi-height histogram, when
                // one exists: Spark's transformV2Stats lifts it into
                // attributeStats, and Filter/JoinEstimation stop
                // assuming uniformity on this column
                override def histogram(): java.util.Optional[
                    org.apache.spark.sql.connector.read.colstats
                      .Histogram] =
                  an.flatMap(_.hist).map { h =>
                    java.util.Optional.of(
                      new org.apache.spark.sql.connector.read.colstats
                          .Histogram {
                        override def height(): Double = h.height
                        override def bins(): Array[
                            org.apache.spark.sql.connector.read.colstats
                              .HistogramBin] =
                          h.bins.map { case (l, u, d) =>
                            new org.apache.spark.sql.connector.read
                                .colstats.HistogramBin {
                              override def lo(): Double = l
                              override def hi(): Double = u
                              override def ndv(): Long = d
                            }
                          }.toArray
                      })
                  }.getOrElse(java.util.Optional.empty())
              })
          }
        }
      }
      out
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): java.util.OptionalLong =
        rows.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  /** RUNTIME FILTERING (the DSv2 dynamic-pruning hook): join-key
    * values discovered at execution time re-prune the file list
    * through the same zone-map/bloom path — the file-level analog of
    * dynamic partition pruning, effective wherever the key has
    * write-time locality or a bloom filter. Any column qualifies
    * (zone maps exist on all stats'd columns). */
  private var runtime: Array[Filter] = Array.empty
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // grouped mode: no runtime re-planning — the partition-per-bucket
    // shape (and its key set) must stay exactly what SPJ planned on
    if (grouped) Array.empty
    else required.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)
  override def filter(filters: Array[Filter]): Unit =
    runtime = filters.filter(f => GraftDataSource.translate(f).isDefined)

  override def planInputPartitions(): Array[InputPartition] = {
    if (version < 0 && !grouped) return Array.empty
    val pred = (pushed ++ runtime).flatMap(GraftDataSource.translate(_))
      .reduceOption(_ && _)
    if (grouped) {
      val byBucket: Map[Int, Seq[(Int, String, Seq[String])]] =
        if (version < 0) Map.empty
        else tx.providerSnapshotBucketed(version, pred)._2.groupBy(_._1)
      // EVERY bucket id present (empty ones too): co-bucketed sides
      // must expose identical partition-key sets for the join to zip
      (0 until tx.numBuckets).map { b =>
        val fs = byBucket.getOrElse(b, Nil)
        GraftBucketPartition(b, fs.map(_._2).toArray,
          fs.map(_._3.toArray).toArray): InputPartition
      }.toArray
    } else {
      val (_, files) = tx.providerSnapshot(version, pred)
      files.map { case (p, dvs) =>
        GraftInputPartition(p, dvs.toArray): InputPartition }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // files bind by PHYSICAL column name (stable across renames);
    // ColumnarBatch/InternalRow consumption is positional against
    // readSchema(), so only the reader-side names change
    new GraftReaderFactory(tx.physicalizeFor(version, required))
}

final class GraftReaderFactory(required: StructType)
    extends PartitionReaderFactory {

  /** COLUMNAR for every partition: [[GraftColumnarReader]] is the
    * provider's one parquet reader. Deletion vectors mask batch-side
    * (batches with no tombstones in range pass through ZERO-copy,
    * batches with tombstones compact the survivors into reusable
    * vectors), and a scan with no data column (`count(*)`, a
    * `_graft_file`/`_graft_pos`-only row-level scan) gets batches that
    * carry only row counts and the metadata vectors. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    true

  /** Rows for the callers that consume them (the graft-files overlay,
    * the CDF stream, the Iceberg tail and changelog readers): a row
    * view over [[createColumnarReader]]. */
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new GraftBatchRows(createColumnarReader(partition))

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] =
    partition match {
      case p: GraftInputPartition =>
        new GraftColumnarReader(p.path, p.dvPaths, required,
          p.start, p.length)
      case b: GraftBucketPartition =>
        new GraftChainReader(b.paths.indices.map(i => () =>
          new GraftColumnarReader(b.paths(i), b.dvPaths(i), required)
            : PartitionReader[ColumnarBatch]))
    }
}

/** The rows of a columnar reader's batches, one `rowIterator()` at a
  * time. `get()` returns the same row until the next `next()`; a row
  * is valid only until then (batch vectors are reused), so callers
  * copy what they keep. */
private[sources] final class GraftBatchRows(
    batches: PartitionReader[ColumnarBatch])
    extends PartitionReader[InternalRow] {
  private var rows: java.util.Iterator[InternalRow] =
    java.util.Collections.emptyIterator()
  private var current: InternalRow = _
  override def next(): Boolean = {
    while (!rows.hasNext) {
      if (!batches.next()) return false
      rows = batches.get().rowIterator()
    }
    current = rows.next()
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = batches.close()
}

/** VECTORIZED partition reader: Spark's own
  * `VectorizedParquetRecordReader` does the decode (the same columnar
  * batch machinery the built-in parquet source runs — dictionary-aware,
  * null-run-aware, codegen-consumable), and this wrapper composes the
  * batch to the required shape: file-order data vectors mapped to the
  * requested order, missing pre-evolution columns as constant-null
  * vectors, and the row-identity metadata columns (`_graft_file`
  * constant, `_graft_pos` a per-batch position fill) when requested.
  * A scan with no data column reads no parquet column: its batches
  * carry only row counts (Spark's own `count(*)` shape).
  *
  * DELETION VECTORS mask batch-side: the file's tombstoned positions
  * load once (sorted), and each batch checks its position range
  * against a monotonic cursor —
  * a batch with NO tombstones in range passes through ZERO-copy (the
  * common case: deletes cluster in few row groups), a batch with
  * tombstones compacts the survivors into reusable output vectors
  * (one type-dispatched copy per surviving cell). `_graft_pos` stays
  * the PHYSICAL row index either way — the row-identity the DV
  * sidecars and row-level DML tombstone.
  *
  * Rebase modes are pinned CORRECTED/UTC: every file this provider
  * serves was written by this engine (Spark 4, proleptic calendar,
  * TIMESTAMP_MICROS); a foreign legacy file would fail loudly, not
  * decode wrongly. */
final class GraftColumnarReader(path: String, dvPaths: Array[String],
    required: StructType, start: Long = 0L, length: Long = -1L)
    extends PartitionReader[ColumnarBatch] {
  require(length < 0 ||
    (dvPaths.isEmpty && !required.fieldNames.contains(GraftTable.PosCol)),
    "byte-ranged reads serve no row identity (positions restart per range)")
  import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
  import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
  import org.apache.spark.sql.internal.SQLConf

  private val baseName = path.substring(path.lastIndexOf('/') + 1)

  private val dataFields = required.fields.filter(f =>
    f.name != GraftTable.FileCol && f.name != GraftTable.PosCol)
  // refused up front, DV'd or not: a clean snapshot must not serve a
  // schema that a snapshot with deletion vectors cannot
  dataFields.find(f => !GraftColumnarReader.copyable(f.dataType)).foreach {
    f => throw new UnsupportedOperationException(
      s"graft DSv2 reader does not decode ${f.dataType} (flat relational " +
        "schemas only; read nested tables through the Scala API)")
  }
  private val dataIdx: Map[String, Int] =
    dataFields.map(_.name).zipWithIndex.toMap

  private val Capacity = 4096
  private val reader = new VectorizedParquetRecordReader(
    null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, Capacity)
  locally {
    // PRODUCTION initialization (the split + task-context path Spark's
    // own parquet source drives): the read-support conf carries the
    // requested CATALYST schema, so schema clipping, INT96 timestamps
    // and missing pre-evolution columns (null-filled batch vectors)
    // are all handled by the same machinery the built-in scan uses —
    // the utility `initialize(path, columns)` entry hardcodes
    // int96AsTimestamp=false and cannot serve legacy-timestamp tables.
    val conf = new Configuration()
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    conf.set("org.apache.spark.sql.parquet.row.requested_schema",
      StructType(dataFields).json)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, false)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, true)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, false)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, true)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, false)
    val p = new Path(path)
    val len = p.getFileSystem(conf).getFileStatus(p).getLen
    val effLen = if (length < 0) len - start else length
    // the mapred flavor: the reader base casts to it (it extends the
    // mapreduce FileSplit, so it satisfies the interface either way)
    val split = new org.apache.hadoop.mapred.FileSplit(
      p, start, effLen, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    reader.initialize(split, ctx)
    reader.initBatch(new StructType(), InternalRow.empty)
    reader.enableReturningBatches()
  }

  private val fileVector: ConstantColumnVector = {
    val v = new ConstantColumnVector(1, StringType)
    v.setUtf8String(UTF8String.fromString(baseName))
    v
  }
  private val posVector = new OnHeapColumnVector(Capacity, LongType)

  // this file's tombstoned positions, sorted — loaded once per file
  // (sidecars are shared across a commit's files: filter to our
  // basename; bounded by the file's DV cardinality)
  private val deletedSorted: Array[Long] =
    if (dvPaths.isEmpty) Array.emptyLongArray
    else {
      val set = new java.util.TreeSet[java.lang.Long]()
      dvPaths.foreach { dv =>
        val r = ParquetReader.builder(new GroupReadSupport(), new Path(dv))
          .withConf(new Configuration()).build()
        try {
          var g = r.read()
          while (g != null) {
            if (g.getString("_dv_file", 0) == baseName)
              set.add(g.getLong("_dv_pos", 0))
            g = r.read()
          }
        } finally r.close()
      }
      val out = new Array[Long](set.size())
      val it = set.iterator()
      var i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      out
    }
  private var delCursor = 0 // monotonic: batches advance in file order

  // survivor-compaction output vectors, allocated once and reused for
  // batches that carry tombstones (clean batches never touch them)
  private lazy val outVectors: Array[OnHeapColumnVector] =
    dataFields.map(f => new OnHeapColumnVector(Capacity, f.dataType))

  private var pos = 0L
  private var current: ColumnarBatch = _

  private def compose(rows: Int,
      fillPos: Int => Unit, dataVec: String => ColumnVector): ColumnarBatch = {
    if (required.fieldNames.contains(GraftTable.PosCol)) {
      var i = 0
      while (i < rows) { fillPos(i); i += 1 }
    }
    val cols: Array[ColumnVector] = required.fields.map { f =>
      if (f.name == GraftTable.FileCol) fileVector
      else if (f.name == GraftTable.PosCol) posVector
      else dataVec(f.name)
    }
    new ColumnarBatch(cols, rows)
  }

  override def next(): Boolean = {
    if (!reader.nextKeyValue()) return false
    val inner = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
    val n = inner.numRows()
    val batchStart = pos
    pos += n
    // tombstones in [batchStart, batchStart+n)? the cursor only moves
    // forward — positions and batches are both in file order
    while (delCursor < deletedSorted.length &&
      deletedSorted(delCursor) < batchStart) delCursor += 1
    var delEnd = delCursor
    while (delEnd < deletedSorted.length &&
      deletedSorted(delEnd) < batchStart + n) delEnd += 1

    if (delEnd == delCursor) {
      // clean batch: ZERO-copy passthrough
      current = compose(n,
        i => posVector.putLong(i, batchStart + i),
        name => inner.column(dataIdx(name)))
    } else {
      // dirty batch: compact the survivors into the reused vectors
      val survivors = new Array[Int](n - (delEnd - delCursor))
      var i = 0; var out = 0; var d = delCursor
      while (i < n) {
        if (d < delEnd && deletedSorted(d) == batchStart + i) d += 1
        else { survivors(out) = i; out += 1 }
        i += 1
      }
      delCursor = delEnd
      var c = 0
      while (c < dataFields.length) {
        val src = inner.column(dataIdx(dataFields(c).name))
        val dst = outVectors(c)
        dst.reset()
        GraftColumnarReader.copySurvivors(dataFields(c).dataType, src, dst,
          survivors, out)
        c += 1
      }
      val byName = dataFields.map(_.name).zip(outVectors).toMap
      current = compose(out,
        i => posVector.putLong(i, batchStart + survivors(i)),
        name => byName(name))
    }
    true
  }

  override def get(): ColumnarBatch = current
  override def close(): Unit = reader.close()
}

object GraftColumnarReader {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector

  /** Types the survivor-compaction copy handles — the flat relational
    * set this engine stores, plus variant. The reader refuses any
    * other requested type when it is built. */
  def copyable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | DateType |
        LongType | TimestampType | TimestampNTZType | FloatType |
        DoubleType | StringType | BinaryType | VariantType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Copy `count` surviving rows (source indices in `survivors`) from
    * `src` into `dst`, type-dispatched ONCE per column per batch. */
  private[sources] def copySurvivors(dt: DataType,
      src: ColumnVector, dst: OnHeapColumnVector,
      survivors: Array[Int], count: Int): Unit = {
    var i = 0
    dt match {
      case BooleanType => while (i < count) {
        val r = survivors(i)
        if (src.isNullAt(r)) dst.putNull(i)
        else dst.putBoolean(i, src.getBoolean(r)); i += 1 }
      case ByteType => while (i < count) {
        val r = survivors(i)
        if (src.isNullAt(r)) dst.putNull(i)
        else dst.putByte(i, src.getByte(r)); i += 1 }
      case ShortType => while (i < count) {
        val r = survivors(i)
        if (src.isNullAt(r)) dst.putNull(i)
        else dst.putShort(i, src.getShort(r)); i += 1 }
      case IntegerType | DateType => while (i < count) {
        val r = survivors(i)
        if (src.isNullAt(r)) dst.putNull(i)
        else dst.putInt(i, src.getInt(r)); i += 1 }
      case LongType | TimestampType | TimestampNTZType => while (i < count) {
        val r = survivors(i)
        if (src.isNullAt(r)) dst.putNull(i)
        else dst.putLong(i, src.getLong(r)); i += 1 }
      case FloatType => while (i < count) {
        val r = survivors(i)
        if (src.isNullAt(r)) dst.putNull(i)
        else dst.putFloat(i, src.getFloat(r)); i += 1 }
      case DoubleType => while (i < count) {
        val r = survivors(i)
        if (src.isNullAt(r)) dst.putNull(i)
        else dst.putDouble(i, src.getDouble(r)); i += 1 }
      case StringType => while (i < count) {
        val r = survivors(i)
        if (src.isNullAt(r)) dst.putNull(i)
        else {
          val b = src.getUTF8String(r).getBytes
          dst.putByteArray(i, b, 0, b.length)
        }; i += 1 }
      case BinaryType => while (i < count) {
        val r = survivors(i)
        if (src.isNullAt(r)) dst.putNull(i)
        else {
          val b = src.getBinary(r)
          dst.putByteArray(i, b, 0, b.length)
        }; i += 1 }
      case d: DecimalType => while (i < count) {
        val r = survivors(i)
        if (src.isNullAt(r)) dst.putNull(i)
        else dst.putDecimal(i, src.getDecimal(r, d.precision, d.scale),
          d.precision); i += 1 }
      case VariantType => while (i < count) {
        val r = survivors(i)
        if (src.isNullAt(r)) dst.putNull(i)
        else {
          val v = src.getVariant(r)
          val value = v.getValue
          val meta = v.getMetadata
          dst.getChild(0).putByteArray(i, value, 0, value.length)
          dst.getChild(1).putByteArray(i, meta, 0, meta.length)
        }; i += 1 }
      case other => throw new UnsupportedOperationException(
        s"survivor copy for $other (the reader refuses it when built)")
    }
  }
}
