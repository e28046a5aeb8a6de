package graft.core

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}

/** Transactional parquet table — a Delta/Iceberg-style table format
  * built from nothing but parquet + one atomic file rename (the public
  * table-format recipe: immutable data files, a versioned manifest as
  * the commit point).
  *
  * Layout:
  * {{{
  *   <dir>/data/<uuid>.parquet        immutable data files
  *   <dir>/_manifests/v<000…N>.tsv    one manifest per committed version
  * }}}
  *
  * A manifest lists `(bucket, file)` pairs; the table state at version
  * N is exactly the files named by manifest N. A commit writes the new
  * manifest to a temp name and RENAMES it into place — a single-file
  * rename, atomic on HDFS/POSIX (on S3 this is where a conditional PUT
  * slots in). Consequences, versus rewriting a table directory and
  * swapping it into place:
  *
  *  - **Snapshot isolation**: readers plan against the file list of the
  *    version current at read time; later commits add files and a new
  *    manifest but never touch listed files, so an in-flight job keeps
  *    reading its snapshot — the read-after-swap hazard class is gone
  *    structurally (no `localCheckpoint` defensiveness needed).
  *  - **Time travel**: `readVersion(n)` re-reads any un-vacuumed state.
  *  - **Bucket pruning without a bucket column**: the manifest tags each
  *    file with its key-hash bucket, so `upsert`/`deleteWhere` pick the
  *    files to rewrite DRIVER-side from manifest metadata and the new
  *    commit re-links every untouched file as-is. A 1-row update writes
  *    one bucket's worth of new data and one small manifest.
  *  - **O(1) commit cost in table size**: no renames of data
  *    directories, no whole-table rewrite; `vacuum` garbage-collects
  *    files unreferenced by retained versions, `compact` rewrites a
  *    version into one file per bucket.
  *
  * **Multi-writer**: commits are optimistic with retry/rebase — the
  * reference runs its scan workers at concurrency 2 and its merge
  * (table-mutating) worker at concurrency 1 against Postgres MVCC
  * (`services/api/src/worker.ts:18,26`); this protocol admits both.
  * A writer claims version `base+1` with an atomic exclusive create
  * (`O_CREAT|O_EXCL` on local FS, server-side exclusive create on
  * HDFS — NOT check-then-rename, which silently overwrites on POSIX
  * rename(2)); on conflict the losing mutation re-reads the new
  * current version, re-applies itself against that snapshot, and
  * re-commits, with capped-exponential backoff until `commitBudgetMs`
  * elapses. No lost updates: every committed manifest extends the
  * version it was rebased onto. On an object store the claim is the
  * seam a conditional PUT replaces.
  *
  * **Crash recovery**: the claim is a short-lived lock marker, deleted
  * after the manifest rename lands. A winner that dies mid-commit
  * leaves an orphan claim; any later writer that loses the claim while
  * the claimed manifest is absent AND the claim is older than
  * `claimStalenessMs` sweeps the orphan and retakes the version, so a
  * crash never wedges the table. If the presumed-dead winner was
  * merely stalled (GC pause longer than the staleness window) and
  * wakes after its claim was retaken, its manifest PUBLISH fails
  * against the thief's committed manifest and it rebases — the race
  * stays lost-update-free because the publish, not the claim, is the
  * commit point. The publish refuses an existing target ATOMICALLY on
  * every backend: HDFS rename fails on an existing destination, but
  * POSIX rename(2) silently replaces it, so on the local FS the
  * publish is a hard link (`link(2)` fails with EEXIST) — see
  * [[publishManifest]].
  *
  * Data files are staged OUTSIDE `data/` and moved in only after the
  * claim is won (see [[stageFiles]]), so `vacuum` can never observe an
  * uncommitted file in `data/` outside a claim-held window bounded by
  * one commit's duration. Files staged by a failed attempt are
  * unreferenced and deleted by the mutation itself or swept by
  * `vacuum`.
  * At 100 TB: manifests list O(buckets × files-per-bucket) lines of
  * driver-side metadata (the Iceberg avro-manifest analog); bucket
  * count is sized so a bucket ≈ a few GB (see
  * [[Warehouse.bucketedTables]]).
  */
final class TxTable(
    spark: SparkSession,
    val dir: String,
    val schema: StructType,
    val keys: Seq[String],
    val numBuckets: Int = 16,
    val commitBudgetMs: Long = TxTable.DefaultCommitBudgetMs,
    val claimStalenessMs: Long = TxTable.DefaultClaimStalenessMs,
    /** EXTRA columns (beyond the keys, which always get one) to write
      * parquet bloom filters for — point-read skipping on
      * high-cardinality columns whose values hash across every file,
      * where zone maps can't help (see [[scanWhere]]). */
    val bloomCols: Seq[String] = Nil,
    /** The bucket-id hash family (immutable table identity, like the
      * keys): [[TxTable.SparkBucketHash]] (default — Spark's `hash()`,
      * Murmur3 seed 42, any key shape) or
      * [[TxTable.IcebergBucketHash]] — the Iceberg spec's `bucket[N]`
      * transform ([[graft.functions.IcebergBucketFn]]), which lets
      * [[IcebergExport]] publish the layout as a spec partition spec
      * STOCK readers prune by. Iceberg mode is single-key only (the
      * spec transform takes one source column), over an
      * integral/temporal/string key declared NON-nullable (the
      * transform maps NULL to a null partition, which a file's
      * single-value partition tuple cannot honestly carry). */
    val bucketHash: String = TxTable.SparkBucketHash,
    /** Opt-in PARQUET FIELD IDS (immutable table identity, recorded
      * in the descriptor at creation): every column gets a sticky
      * `graft.fieldId` (create order; evolution appends max+1; drops
      * retire ids forever) stamped into each staged file's footer as
      * `parquet.field.id`. This is what lets [[DeltaExport]] publish
      * `delta.columnMapping.mode = id` logs whose ids BIND the
      * footers — the mode Iceberg-uniform converts and id-resolving
      * stock readers need. Off by default: pre-existing tables' files
      * carry no footer ids, and claiming id mode over them would
      * break stock readers. */
    val fieldIds: Boolean = false) {

  require(keys.nonEmpty, "TxTable requires key columns")
  require(numBuckets > 0, "TxTable requires numBuckets > 0")
  require(bucketHash == TxTable.SparkBucketHash ||
    bucketHash == TxTable.IcebergBucketHash,
    s"bucketHash must be '${TxTable.SparkBucketHash}' or " +
      s"'${TxTable.IcebergBucketHash}', got '$bucketHash'")
  if (bucketHash == TxTable.IcebergBucketHash &&
    !keys.contains("__reader__")) {
    require(keys.length == 1,
      "iceberg bucket layout takes exactly ONE key column (the spec's " +
        "bucket transform has a single source column)")
    // schema-free read-only opens skip the field checks (empty schema)
    schema.fields.find(_.name.equalsIgnoreCase(keys.head)).foreach { f =>
      require(graft.functions.IcebergBucketFn.supported(f.dataType),
        s"iceberg bucket layout cannot hash key type " +
          s"${f.dataType.simpleString} (int/long/date/timestamp/string)")
      require(!f.nullable,
        s"iceberg-bucketed key '${f.name}' must be declared " +
          "non-nullable - the spec transform maps NULL to a null " +
          "partition, which a single-value file tuple cannot claim")
    }
  }
  require(!schema.fieldNames.exists(TxTable.ReservedCols.contains),
    s"schema may not use the reserved column names " +
      s"${TxTable.ReservedCols.mkString(", ")} (internal layout/DV scratch)")
  // a GENERATED key would mis-bucket every upsert/MERGE: bucket
  // targeting hashes the incoming keys BEFORE staging recomputes the
  // expression (null-means-compute), so a null-carrying update row
  // would hash to the wrong bucket and silently duplicate its key
  schema.fields.filter(_.metadata.contains(TxTable.GeneratedExprKey))
    .foreach { f =>
      require(!keys.exists(_.equalsIgnoreCase(f.name)),
        s"generated column '${f.name}' cannot be a key column - keys " +
          "are the physical bucketing identity and must arrive concrete")
      require(
        !f.metadata.contains(TxTable.IdentityStartKey),
        s"column '${f.name}' cannot be both IDENTITY and GENERATED")
    }

  private val dataDir = s"$dir/data"
  private val manifestDir = s"$dir/_manifests"
  private val dvDir = s"$dir/_dv"

  private def fs: FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Anti/semi-join `left` against `right`'s key columns with NULL-SAFE
    * key equality. Name-based `join(_, keys, _)` compares with `=`, so
    * a NULL-keyed stored row would never match its incoming
    * counterpart — upsert would duplicate it on every write. Still an
    * equi-join (EqualNullSafe plans as a hash join), so the physical
    * plan shape is unchanged. Key columns are referenced by their
    * LOGICAL names under `s` (both sides are user-facing DataFrames). */
  private def keyMatchJoin(left: DataFrame, right: DataFrame,
      joinType: String, s: StructType): DataFrame = {
    val ks = logicalKeyNames(s)
    val l = left.alias("_kjl")
    val r = right.select(ks.map(col): _*).alias("_kjr")
    l.join(r,
      ks.map(k => col(s"_kjl.$k") <=> col(s"_kjr.$k")).reduce(_ && _),
      joinType)
  }

  // ---- manifests ----

  /** One deletion-vector reference on a manifest entry: the sidecar
    * parquet holding (file, row position) tombstones, plus how many of
    * its positions fall in THIS entry's file (keeps `count()`
    * metadata-exact without reading the sidecar). */
  private[core] case class DvRef(path: String, rows: Long)

  /** One manifest line: a data file, its key-hash bucket, its zone-map
    * stats document (empty = none recorded — legacy entry or
    * unsupported columns; skipping then keeps the file), and the
    * deletion vectors masking rows of this file (merge-on-read
    * deletes — see [[deleteWhereLight]]). */
  private[core] case class FEntry(bucket: Int, path: String, stats: String,
      dvs: Seq[DvRef] = Nil) {
    /** Parsed stats, resolved against the table schema. */
    def parsedStats(schema: StructType): Option[FileStats.Stats] =
      FileStats.fromJson(stats, schema)
    /** Identity for the CDC file diff: a DV added to an otherwise
      * re-linked file must read as a CHANGED file (its live row set
      * shrank), so the identity covers path + DV chain. */
    def changeId: String =
      path + dvs.map(d => s"${d.path}:${d.rows}").sorted.mkString("|", ";", "")
  }

  /** The file set of one committed version, plus the schema the
    * version was committed under (None = pre-evolution manifest →
    * the table's declared create schema) and the commit's small
    * metadata map (application watermarks etc. — rides the atomic
    * manifest rename, so it is transactional with the data). */
  private case class Manifest(version: Long, entries: Seq[FEntry],
      declaredSchema: Option[StructType] = None,
      meta: Map[String, String] = Map.empty)

  /** The declared create schema, field-id-stamped when the table opts
    * in (ids preserved if the caller already passed some — reopening
    * an id'd table with its currentSchema must not renumber). */
  private lazy val schemaWithIds: StructType =
    if (!fieldIds) schema else TxTable.stampFieldIds(schema)

  private def schemaAt(m: Manifest): StructType =
    m.declaredSchema.getOrElse(schemaWithIds)

  // ---- column mapping (metadata-only RENAME COLUMN) ----
  //
  // A renamed column keeps its ORIGINAL parquet column name forever —
  // the stable "physical" name, recorded as `graft.physical` metadata
  // on the declared schema's field (the Delta columnMapping name-mode
  // recipe). Data files, zone-map stats, bloom sidecars, bucketing
  // keys and DV sidecars all bind by physical name, so a rename is
  // ONE metadata commit at any table size: no file is rewritten, and
  // files written before AND after the rename stay byte-compatible.
  // The logical <-> physical translation happens at exactly three
  // choke points — [[readFiles]]/[[readFilesWithPos]] (read),
  // [[stageFiles]] (write), [[pruneEntries]] (stats) — everything
  // else in the engine, including CHECK enforcement and schema
  // evolution, operates purely on logical names. Tables that never
  // rename have an identity mapping and take none of these branches.

  /** Parquet column name this declared field binds to (its name at
    * creation time; the declared name after renames). */
  private[graft] def physicalFieldName(f: StructField): String =
    if (f.metadata.contains(TxTable.PhysicalNameKey))
      f.metadata.getString(TxTable.PhysicalNameKey)
    else f.name

  /** `s` with every field under its physical (file-side) name. */
  private[graft] def physicalize(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = physicalFieldName(f))))

  /** True when any field of the current schema is renamed away from
    * its physical name (drives interop-export honesty guards). */
  private[graft] def columnMappingActive: Boolean =
    currentSchema.fields.exists(f => physicalFieldName(f) != f.name)

  /** `s` (a pruned/projected schema in DECLARED names, possibly with
    * extra non-table columns such as the provider's row-identity
    * metadata columns) rebound to physical names per version `v`'s
    * declared schema — the DSv2 reader's file-binding schema. */
  private[graft] def physicalizeFor(v: Long, s: StructType): StructType =
    if (v < 0) s
    else {
      val t = schemaAtVersion(v)
      StructType(s.fields.map { f =>
        t.fields.find(_.name.equalsIgnoreCase(f.name))
          .map(tf => f.copy(name = physicalFieldName(tf)))
          .getOrElse(f)
      })
    }

  /** The current declared names of the physical key columns — what
    * user-facing surfaces (SPJ transforms, DESCRIBE, SQL) call the
    * keys after renames. */
  private[graft] def logicalKeys: Seq[String] =
    logicalKeyNames(currentSchema)

  /** logical-lowercase -> physical for the renamed fields of `s`. */
  private def mappingOf(s: StructType): Map[String, String] =
    s.fields.iterator
      .filter(f => physicalFieldName(f) != f.name)
      .map(f => f.name.toLowerCase -> physicalFieldName(f)).toMap

  /** The LOGICAL (declared) names of this table's physical key
    * columns under schema `s` — key identity is physical (bucketing
    * never changes on rename), but joins/dedups over user-facing
    * DataFrames must reference the declared names. */
  private def logicalKeyNames(s: StructType): Seq[String] =
    keys.map(k => s.fields.find(f => physicalFieldName(f).equalsIgnoreCase(k))
      .map(_.name).getOrElse(k))

  /** Key-hash bucket id computed over `s`-shaped (logical) rows. */
  private def bucketExprFor(s: StructType): Column =
    if (bucketHash == TxTable.IcebergBucketHash) {
      val k = logicalKeyNames(s).head
      // null-in would silently land a null bucket (and a Hive default
      // partition dir) — refuse loudly at write time instead; the
      // create-time non-nullable contract makes this unreachable for
      // well-typed frames
      when(col(k).isNull, raise_error(lit(
        s"iceberg-bucketed key '$k' may not be NULL")).cast(IntegerType))
        .otherwise(
          graft.functions.IcebergBucketFunctions
            .iceberg_bucket(col(k), numBuckets))
    } else
      pmod(hash(logicalKeyNames(s).map(col): _*), lit(numBuckets))
        .cast(IntegerType)

  /** The schema of the CURRENT version — the create schema widened by
    * any [[appendEvolving]]/[[upsertEvolving]] commits since. Guarded
    * on the version, not `exists`: a crash between mkdirs and the
    * first manifest publish leaves the directory without a manifest,
    * which must read as the empty-table state, not crash. */
  def currentSchema: StructType = {
    val v = currentVersion
    if (v < 0) schemaWithIds else schemaAt(loadManifest(v))
  }

  private def manifestPath(v: Long): Path =
    new Path(manifestDir, f"v$v%020d.tsv")

  def exists: Boolean = fs.exists(new Path(manifestDir))

  def versions: Seq[Long] =
    if (!exists) Nil
    else fs.listStatus(new Path(manifestDir)).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".tsv"))
      .map(n => n.stripPrefix("v").stripSuffix(".tsv").toLong)
      .sorted

  def currentVersion: Long = versions.lastOption.getOrElse(-1L)

  private def loadManifest(v: Long): Manifest = {
    val in = fs.open(manifestPath(v))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    val declared = lines.collectFirst {
      case l if l.startsWith("#schema\t") =>
        DataType.fromJson(l.stripPrefix("#schema\t")).asInstanceOf[StructType]
    }
    val meta = lines.collectFirst {
      case l if l.startsWith("#meta\t") =>
        org.json4s.jackson.JsonMethods.parse(l.stripPrefix("#meta\t")) match {
          case org.json4s.JObject(fs) => fs.collect {
            case (k, org.json4s.JString(s)) => k -> s
          }.toMap
          case _ => Map.empty[String, String]
        }
    }.getOrElse(Map.empty[String, String])
    // bare names resolve against this table's dirs; absolute paths /
    // URIs are FOREIGN references (shallow clones) and pass through
    def dataPath(n: String) =
      if (n.startsWith("/") || n.contains(":/")) n else s"$dataDir/$n"
    def dvPath(n: String) =
      if (n.startsWith("/") || n.contains(":/")) n else s"$dvDir/$n"
    val entries = lines
      .filter(l => !l.startsWith("#")) // '#' = header lines
      .map { line =>
        line.split("\t", 4) match {
          case Array(b, f)     => FEntry(b.toInt, dataPath(f), "")
          case Array(b, f, st) => FEntry(b.toInt, dataPath(f), st)
          case Array(b, f, st, dv) =>
            val refs = dv.split(";").toSeq.filter(_.nonEmpty).map { r =>
              val i = r.lastIndexOf(':')
              DvRef(dvPath(r.take(i)), r.drop(i + 1).toLong)
            }
            FEntry(b.toInt, dataPath(f), st, refs)
        }
      }
    Manifest(v, entries, declared, meta)
  }

  /** The metadata map a version was committed with (empty if none).
    * Metadata is per-commit, not inherited: it marks WHAT a commit
    * applied (e.g. an incremental view's source watermark). */
  def commitMeta(v: Long): Map[String, String] =
    if (v < 0 || !exists) Map.empty else loadManifest(v).meta

  /** Newest retained commit's value for `key` (commits without the key
    * — compactions, unrelated writes — are skipped). A tombstoned key
    * ([[dropMeta]]) reads as absent — the tombstone shadows every
    * older value, it never falls through to one. */
  def latestMeta(key: String): Option[String] =
    versions.reverseIterator.map(commitMeta(_).get(key))
      .collectFirst { case Some(v) => v }
      .filterNot(_ == TxTable.MetaTombstone)

  /** [[latestMeta]] pinned AT a version: newest value for `key` among
    * retained commits `<= v`. Guarded commits hand their precondition
    * a [[TxTable.Snapshot]] backed by this, so the check is against
    * the exact state the commit claims — never floating head state. */
  def metaAsOf(v: Long, key: String): Option[String] =
    versions.reverseIterator.filter(_ <= v)
      .map(commitMeta(_).get(key)).collectFirst { case Some(x) => x }
      .filterNot(_ == TxTable.MetaTombstone)

  /** Retire commit-meta keys (watermarks of consumers that no longer
    * exist — a dropped view, a deleted stream query). Vacuum's
    * carry-forward otherwise keeps every key alive FOREVER (each cycle
    * re-folds it into a fresh commit); a tombstone ends that
    * lifecycle: the key immediately reads as absent, stays shadowed
    * while the tombstone's manifest is retained, and when that
    * manifest ages out the carry drops the key entirely instead of
    * resurrecting an older value. Data is untouched (the commit
    * republishes the current entries). */
  def dropMeta(keys: Iterable[String]): Unit = {
    val ks = keys.toSeq.distinct
    require(ks.nonEmpty, "dropMeta needs at least one key")
    // governance keys are NOT retirable watermarks: tombstoning
    // `checks` would silently stop validating writes, tombstoning
    // `dropped_cols` would disable the resurrection guard (and the
    // next vacuum would end the key's lifecycle, making the bypass
    // permanent)
    val reserved = ks.filter(TxTable.ReservedMetaKeys.contains)
    require(reserved.isEmpty,
      s"cannot dropMeta reserved governance key(s) ${reserved.mkString(", ")}" +
        " - use dropCheckConstraint for constraints; dropped_cols is " +
        "permanent by design (resurrection guard)")
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      commit(m.entries, base, m.declaredSchema,
        ks.map(_ -> TxTable.MetaTombstone).toMap)
      ()
    }
  }

  /** DROP TABLE as a guarded MANIFEST TOMBSTONE, not a delete: the
    * commit republishes the current entries with a `table_dropped`
    * marker, so catalog listings and loads treat the table as absent
    * while every byte of data and history stays retained — DROP is
    * undoable ([[undropTable]]) for as long as the manifest is, the
    * same contract restore() gives truncate. Actual space reclaim
    * stays where it belongs: an explicit [[vacuum]] after retention. */
  def dropTable(): Unit = {
    require(!isDropped, s"$dir is already dropped")
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      commit(m.entries, base, m.declaredSchema,
        Map(TxTable.DroppedKey -> "true"))
      ()
    }
    // O(1) catalog marker, written AFTER the commit publishes: the
    // commit meta is the durable audit record, the marker is the fast
    // path every catalog resolution checks (a latestMeta scan would
    // walk the FULL retained history for every never-dropped table —
    // O(versions) per SELECT). Crash between commit and marker: the
    // drop simply didn't take effect in catalogs; re-run it.
    val out = fs.create(new Path(dir, TxTable.DroppedMarker), true)
    out.close()
  }

  /** Undo [[dropTable]] — the table resurfaces in catalogs at its
    * pre-drop state (the drop commit carried no data change). */
  def undropTable(): Unit = {
    require(isDropped, s"$dir is not dropped")
    dropMeta(Seq(TxTable.DroppedKey))
    fs.delete(new Path(dir, TxTable.DroppedMarker), false)
    ()
  }

  /** Dropped check, O(1) either way: the `_dropped` marker file is
    * primary; the CURRENT commit's meta is the compatibility fallback
    * for tables tombstoned before the marker existed (a drop commit is
    * by contract the newest — nothing writes to a dropped table), and
    * a fallback hit self-heals by writing the marker. Never a history
    * scan. The backfill is BEST-EFFORT: this is a READ path, so a
    * read-only filesystem / immutable replica / concurrent reader
    * racing the create must not turn "list a dropped table" into a
    * throw — the meta answer is already correct without the marker. */
  def isDropped: Boolean = {
    if (fs.exists(new Path(dir, TxTable.DroppedMarker))) return true
    val metaDropped =
      commitMeta(currentVersion).get(TxTable.DroppedKey).contains("true")
    if (metaDropped) { // backfill the fast path, best-effort only
      try {
        val out = fs.create(new Path(dir, TxTable.DroppedMarker), true)
        out.close()
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    metaDropped
  }

  /** BUCKET-COUNT EVOLUTION, the safe way: rewrite the table into a
    * FRESH directory under a new bucket count (one staged pass —
    * every row re-partitions under the new layout, CHECK constraints
    * carry over), and let the operator swap directories/identifiers.
    * In-place rebucketing is deliberately excluded: the `_table.json`
    * descriptor and the manifest entries' bucket ids must agree for
    * bucket pruning to be sound, and no crash-safe ordering exists
    * for mutating both (a half-applied swap would silently
    * mis-prune lookups). A new directory is atomic by construction —
    * the rebucketed table exists completely or not at all. */
  def rebucketTo(dstDir: String, newBuckets: Int): TxTable = {
    require(newBuckets >= 1, s"bucket count must be >= 1, got $newBuckets")
    require(currentVersion >= 0, s"$dir has no committed version")
    // the migration collapses any column mapping: the fresh table's
    // files are written under the CURRENT declared names, so its
    // physical identity (keys, blooms, schema) is purely logical
    val cur = currentSchema
    val dst = new TxTable(spark, dstDir,
      StructType(cur.fields.map(f => f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .remove(TxTable.PhysicalNameKey).build()))),
      logicalKeyNames(cur),
      numBuckets = newBuckets,
      bloomCols = bloomCols.map(b =>
        cur.fields.find(f => physicalFieldName(f).equalsIgnoreCase(b))
          .map(_.name).getOrElse(b)),
      bucketHash = bucketHash,
      fieldIds = fieldIds)
    require(dst.currentVersion < 0,
      s"$dstDir already holds a table - rebucket writes a FRESH directory")
    dst.createIfAbsent()
    checkConstraints.foreach { case (n, p) => dst.addCheckConstraint(n, p) }
    dst.append(read)
    dst
  }

  /** ALTER TABLE ADD COLUMNS through the existing schema-evolution
    * path: a metadata-only commit with the widened schema — no data
    * file is touched; pre-evolution files read the new columns as
    * null exactly like [[appendEvolving]]'s. Columns must be new and
    * nullable (existing rows have no value to backfill). */
  def addColumns(cols: StructType): Unit = {
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    cols.foreach(f => require(f.nullable,
      s"new column ${f.name} must be nullable - existing rows null-fill"))
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      val cur = schemaAt(m)
      // case-INSENSITIVE duplicate check, matching widen()'s resolver
      // semantics — otherwise adding `ID` to a table with `id` would
      // silently no-op (widen dedups case-insensitively) instead of
      // erroring
      cols.foreach(f => require(
        !cur.fieldNames.exists(_.equalsIgnoreCase(f.name)),
        s"column ${f.name} already exists"))
      val target = widen(cur, cols)
      commit(m.entries, base, Some(target))
      ()
    }
  }

  /** ALTER TABLE DROP COLUMN as a METADATA-ONLY commit — the 100 TB
    * lifecycle op done the cheap sound way: the new schema simply
    * omits the column, no data file is rewritten (reads project the
    * declared schema by name, so the physical column is never
    * materialized again; time travel below the drop still reads it —
    * each version's schema is the one it was committed with).
    *
    * Soundness boundary, enforced not documented-away: a name once
    * dropped can NEVER be re-added ([[widen]] refuses). Pre-drop data
    * files still physically hold the old values, and a re-added
    * same-name column would read them back as live data (silent
    * resurrection). The dropped set rides the `dropped_cols` commit
    * meta (cumulative, vacuum carry-forward keeps it alive), cached
    * like [[checkConstraints]]. Reusing the name requires a physical
    * migration ([[rebucketTo]] writes a fresh table without the
    * column).
    *
    * Refused outright: key columns (the table's physical identity —
    * bucketing, upsert co-location), bloom-descriptor columns (every
    * append builds their sidecars), columns referenced by an active
    * CHECK (later writes could not validate it), and dropping every
    * column. */
  def dropColumns(names: Seq[String]): Unit = {
    require(names.nonEmpty, "DROP COLUMNS needs at least one column")
    // a descriptor-less open carries placeholder keys, so the
    // key-column refusal below could not fire — dropping the real key
    // column of a legacy table would corrupt its physical identity
    // exactly like a mis-bucketed write (same guard as SQL writes)
    require(!keys.contains("__reader__"),
      s"$dir has no _table.json write descriptor: DROP COLUMN needs " +
        "the key columns to protect the physical identity - open the " +
        "table through the Scala API with its keys, or add _table.json")
    withRetry {
      val base = currentVersion
      require(base >= 0, s"$dir has no committed version")
      val m = loadManifest(base)
      val cur = schemaAt(m)
      val resolved = names.map { n =>
        cur.fieldNames.find(_.equalsIgnoreCase(n)).getOrElse(
          throw new IllegalArgumentException(s"no such column '$n' " +
            s"(table has ${cur.fieldNames.mkString(", ")})"))
      }.distinct
      // key/bloom identity and the dropped-name registry are
      // PHYSICAL: a renamed column's declared name differs from the
      // parquet name its pre-drop files hold
      val resolvedPhys = resolved.map(n =>
        physicalFieldName(cur.fields.find(_.name == n).get))
      resolved.zip(resolvedPhys).foreach { case (n, ph) =>
        require(!keys.exists(_.equalsIgnoreCase(ph)),
          s"cannot drop key column '$n' - it is the table's physical " +
            "identity (bucketing, pruning, upsert co-location); " +
            "migrate to a new layout with rebucketTo")
        require(!bloomCols.exists(_.equalsIgnoreCase(ph)),
          s"cannot drop bloom column '$n' - the _table.json descriptor " +
            "builds its sidecars on every append; migrate with rebucketTo")
      }
      checkConstraints.foreach { case (cn, pred) =>
        val refs = checkPredicateRefs(pred)
        resolved.foreach(n => require(!refs.exists(_.equalsIgnoreCase(n)),
          s"CHECK $cn references column '$n' - dropCheckConstraint first"))
      }
      // a generated column being dropped IN THIS CALL releases its
      // references — dropping (o_year, o_orderdate) together is one
      // atomic commit, not a forced two-step
      generatedFields(cur)
        .filterNot(g => resolved.exists(_.equalsIgnoreCase(g.name)))
        .foreach { g =>
          val refs = checkPredicateRefs(g.metadata.getString(
            TxTable.GeneratedExprKey))
          resolved.foreach(n => require(!refs.exists(_.equalsIgnoreCase(n)),
            s"generated column '${g.name}' is computed from '$n' - " +
              "drop the generated column first"))
        }
      require(cur.fields.length > resolved.length,
        "cannot drop every column of the table")
      val target = StructType(cur.fields
        .filterNot(f => resolved.exists(_.equalsIgnoreCase(f.name))))
      val all = droppedColumns ++ resolvedPhys.map(_.toLowerCase)
      // field-id watermark: the dropped column's id leaves the live
      // schema here, but must never be reissued (old footers carry it)
      val idWm: Map[String, String] =
        if (!fieldIds) Map.empty
        else Map(TxTable.MaxFieldIdKey -> math.max(
          TxTable.maxFieldId(cur),
          latestMeta(TxTable.MaxFieldIdKey).flatMap(_.toLongOption)
            .getOrElse(0L)).toString)
      commit(m.entries, base, Some(target),
        Map("dropped_cols" -> all.toSeq.sorted.mkString(",")) ++ idWm)
      ()
    }
  }

  @volatile private var droppedCache: Option[(Long, Set[String])] = None

  /** Column names (lowercased) ever retired by [[dropColumns]] —
    * permanently unavailable for re-adding (resurrection guard; see
    * [[dropColumns]]). Carried forward like [[checkConstraints]]:
    * each drop commit declares the full cumulative set, lookups load
    * only manifests newer than the cached version. */
  def droppedColumns: Set[String] = {
    val head = currentVersion
    if (head < 0) Set.empty
    else droppedCache match {
      case Some((v, s)) if v == head => s
      case cached =>
        val floor = cached.map(_._1).getOrElse(-1L)
        // tombstones are skipped defensively (dropMeta refuses the key
        // now, but a pre-refusal tombstone must not disable the guard)
        val declared = versions.filter(_ > floor).sorted.reverseIterator
          .map(v => commitMeta(v).get("dropped_cols")
            .filterNot(_ == TxTable.MetaTombstone))
          .collectFirst { case Some(s) =>
            s.split(",").map(_.trim).filter(_.nonEmpty).toSet }
        val s = declared.orElse(cached.map(_._2)).getOrElse(Set.empty)
        droppedCache = Some((head, s))
        s
    }
  }

  /** ALTER COLUMN <c> TYPE <wider> as a METADATA-ONLY commit — the
    * type-widening lifecycle op done the cheap sound way: Spark 4's
    * parquet readers (vectorized and row-based alike) decode the
    * narrower PHYSICAL type under the wider requested type, so no
    * data file is rewritten and later appends simply write the wider
    * type. Only lossless primitive widenings are allowed (the ones
    * the reader provably upcasts): byte→short/int/long,
    * short→int/long, int→long, float→double. Time travel below the
    * widen still reads the old type — each version's schema is the
    * one it was committed with.
    *
    * Refused: key columns (the bucket hash is TYPE-sensitive —
    * hash(5:int) ≠ hash(5L:long), so widening a key would silently
    * mis-prune every later lookup) and bloom-descriptor columns (same
    * hash identity in their sidecars); decimals (the physical
    * encoding changes with precision class). */
  def widenColumn(name: String, to: org.apache.spark.sql.types.DataType)
      : Unit = {
    withRetry {
      val base = currentVersion
      require(base >= 0, s"$dir has no committed version")
      val m = loadManifest(base)
      val cur = schemaAt(m)
      val f = cur.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"no such column '$name' " +
          s"(table has ${cur.fieldNames.mkString(", ")})"))
      require(TxTable.widensTo(f.dataType, to),
        s"cannot widen ${f.name} from ${f.dataType.simpleString} to " +
          s"${to.simpleString} - lossless primitive widenings only " +
          "(byte/short/int->long, float->double)")
      // identity comparisons are PHYSICAL: a renamed key/bloom column
      // must still refuse the widen under its declared name
      require(!keys.exists(_.equalsIgnoreCase(physicalFieldName(f))),
        s"cannot widen key column '${f.name}' - the bucket hash is " +
          "type-sensitive; migrate with rebucketTo")
      require(!bloomCols.exists(_.equalsIgnoreCase(physicalFieldName(f))),
        s"cannot widen bloom column '${f.name}' - sidecar hashes are " +
          "type-sensitive; migrate with rebucketTo")
      val target = StructType(cur.fields.map(x =>
        if (x.name.equalsIgnoreCase(name)) x.copy(dataType = to) else x))
      commit(m.entries, base, Some(target))
      ()
    }
  }

  /** ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit (column
    * mapping): the renamed field keeps its creation-time parquet name
    * forever, recorded as `graft.physical` metadata on the declared
    * schema — no data file is rewritten at ANY table size, files
    * written before and after the rename stay byte-compatible, and
    * zone maps / bloom sidecars / bucketing keep binding by the
    * stable physical name. Time travel below the rename reads the
    * old declared name (each version's schema is the one it was
    * committed with). Key and bloom columns rename freely: their
    * physical identity never moves.
    *
    * Refused: names referenced by an active CHECK (the predicate
    * text binds the declared name; dropCheckConstraint → rename →
    * re-add under the new name), and targets that collide with a
    * live column name. A previously-dropped name may be reused as a
    * rename target — the logical namespace is independent of the
    * physical one, so no pre-drop file values can resurrect. */
  def renameColumn(from: String, to: String): Unit = {
    require(from.nonEmpty && to.nonEmpty, "RENAME COLUMN needs names")
    withRetry {
      val base = currentVersion
      require(base >= 0, s"$dir has no committed version")
      val m = loadManifest(base)
      val cur = schemaAt(m)
      val f = cur.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
        throw new IllegalArgumentException(s"no such column '$from' " +
          s"(table has ${cur.fieldNames.mkString(", ")})"))
      require(!cur.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"column '$to' already exists")
      checkConstraints.foreach { case (cn, pred) =>
        require(!checkPredicateRefs(pred).exists(_.equalsIgnoreCase(from)),
          s"CHECK $cn references column '$from' - dropCheckConstraint " +
            "first, rename, then re-add it under the new name")
      }
      // a generation expression binds declared names in its SQL text;
      // renaming a referenced column would silently unbind it
      generatedFields(cur).foreach { g =>
        require(!checkPredicateRefs(g.metadata.getString(
            TxTable.GeneratedExprKey)).exists(_.equalsIgnoreCase(from)),
          s"generated column '${g.name}' is computed from '$from' - " +
            "drop the generated column first, rename, then re-add it")
      }
      val target = StructType(cur.fields.map { x =>
        if (x.name.equalsIgnoreCase(from)) {
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(x.metadata)
            .putString(TxTable.PhysicalNameKey, physicalFieldName(x))
            .build()
          StructField(to, x.dataType, x.nullable, mb)
        } else x
      })
      commit(m.entries, base, Some(target),
        meta = Map("renamed_col" -> s"${f.name.toLowerCase}->$to"))
      ()
    }
  }

  /** ALTER COLUMN SET/DROP DEFAULT as a metadata-only commit —
    * Delta's exact semantics: the default applies to FUTURE inserts
    * that omit the column (Spark's analyzer resolves it from the
    * `CURRENT_DEFAULT` field metadata); existing rows are untouched
    * and keep reading their stored values (or null). The
    * exists-default is deliberately NOT set here — rewriting history
    * via metadata would lie about what the files hold. */
  def setColumnDefault(name: String, defaultSql: Option[String]): Unit = {
    withRetry {
      val base = currentVersion
      require(base >= 0, s"$dir has no committed version")
      val m = loadManifest(base)
      val cur = schemaAt(m)
      val f = cur.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"no such column '$name' " +
          s"(table has ${cur.fieldNames.mkString(", ")})"))
      // the default must parse, analyze and cast against the column
      // NOW, not at first insert: a bad default should fail the DDL
      defaultSql.foreach { sql =>
        val ok = scala.util.Try(emptyDfFor(new StructType())
          .select(expr(sql).cast(f.dataType))
          .queryExecution.analyzed)
        require(ok.isSuccess,
          s"DEFAULT ($sql) does not resolve against " +
            s"${f.dataType.simpleString}")
      }
      val target = StructType(cur.fields.map { x =>
        if (x.name.equalsIgnoreCase(name)) {
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(x.metadata)
          defaultSql match {
            case Some(sql) => mb.putString("CURRENT_DEFAULT", sql)
            case None      => mb.remove("CURRENT_DEFAULT")
          }
          x.copy(metadata = mb.build())
        } else x
      })
      commit(m.entries, base, Some(target))
      ()
    }
  }

  // ---- user table properties (SET/UNSET TBLPROPERTIES) ----

  /** User TBLPROPERTIES at the current version: the full map rides ONE
    * commit-meta key per change (newest declaration wins outright),
    * the same carry [[checkConstraints]] uses. */
  def tableProperties: Map[String, String] =
    latestMeta(TxTable.TblPropsKey).map(decodeChecks).getOrElse(Map.empty)

  /** SET TBLPROPERTIES: merge `props` into the current map (one
    * metadata-only commit, data untouched). */
  def setTableProperties(props: Map[String, String]): Unit = {
    require(props.nonEmpty, "SET TBLPROPERTIES needs at least one pair")
    withRetry {
      val base = currentVersion
      require(base >= 0, s"$dir has no committed version")
      val m = loadManifest(base)
      commit(m.entries, base, m.declaredSchema,
        Map(TxTable.TblPropsKey -> encodeChecks(tableProperties ++ props)))
      ()
    }
  }

  /** UNSET TBLPROPERTIES: drop `keys` from the map (absent keys are a
    * silent no-op, matching Spark's IF EXISTS-less semantics for
    * properties). */
  def unsetTableProperties(keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES needs at least one key")
    withRetry {
      val base = currentVersion
      require(base >= 0, s"$dir has no committed version")
      val m = loadManifest(base)
      commit(m.entries, base, m.declaredSchema,
        Map(TxTable.TblPropsKey ->
          encodeChecks(tableProperties -- keys)))
      ()
    }
  }

  // ---- ANALYZE column statistics (planner NDV; the CBO feed) ----

  /** ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS, graft-shaped:
    * compute per-column NDV (plus avg/max byte length for strings)
    * over the CURRENT snapshot and declare them in one metadata-only
    * commit (the TBLPROPERTIES carry pattern — newest declaration
    * wins, vacuum carries it forward). [[graft.sources.GraftScan]]
    * serves them to Spark's CBO as `distinctCount`/`avgLen`/`maxLen`
    * — the stats join-cardinality estimation actually turns on;
    * min/max/nullCount already fold from the manifest zone maps.
    *
    * `exact = false` (default, the 100 TB path) is ONE pass of
    * mergeable HLL sketches (`approx_count_distinct`, `rsd`
    * precision); `exact = true` pays real `count(DISTINCT)` per
    * column (Spark expands multi-distinct — O(cols) shuffles) and is
    * the oracle-checkable mode. Stats are advisory planner input
    * pinned at the analyzed version, per ANALYZE semantics
    * everywhere: writers do not invalidate them, the next ANALYZE
    * replaces them. */
  /** `histogramBins >= 2` additionally computes an EQUI-HEIGHT
    * histogram per numeric column: bin endpoints from ONE mergeable
    * `percentile_approx` folded into the same aggregation pass the
    * NDV takes, then one more pass for per-bin distinct counts
    * (`ApproxCountDistinctForIntervals`, Spark's own ANALYZE
    * recipe). Histograms are what stop the CBO assuming uniformity
    * on a skewed join key — a filter on the hot value estimates the
    * hot bin's mass, not rows/ndv. */
  def analyzeColumns(cols: Seq[String] = Nil, exact: Boolean = false,
      rsd: Double = 0.05, histogramBins: Int = 0)
      : Map[String, TxTable.ColAnalysis] = {
    import org.apache.spark.sql.functions.{approx_count_distinct, array, avg, count_distinct, length, lit, percentile_approx, count => fcount, max => fmax}
    val schema = currentSchema
    val targets: Seq[StructField] =
      if (cols.isEmpty)
        schema.fields.toSeq.filter(f => f.dataType match {
          case _: org.apache.spark.sql.types.ArrayType |
               _: org.apache.spark.sql.types.MapType |
               _: org.apache.spark.sql.types.StructType => false
          case _ => true
        })
      else cols.map(c => schema.fields.find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(
          s"ANALYZE column '$c' is not in the schema")))
    require(targets.nonEmpty, "ANALYZE needs at least one flat column")
    def numeric(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case _: org.apache.spark.sql.types.NumericType => true
        case _ => false
      }
    val histTargets: Seq[StructField] =
      if (histogramBins >= 2) targets.filter(f => numeric(f.dataType))
      else Nil
    val v = currentVersion
    val exprs: Seq[Column] = targets.flatMap { f =>
      val c = col(f.name)
      val ndv =
        (if (exact) count_distinct(c) else approx_count_distinct(c, rsd))
          .cast("long").as(s"__ndv_${f.name}")
      val lens = f.dataType match {
        case org.apache.spark.sql.types.StringType => Seq(
          avg(length(c)).as(s"__avglen_${f.name}"),
          fmax(length(c)).cast("long").as(s"__maxlen_${f.name}"))
        case _ => Nil
      }
      // histogram endpoints fold into the SAME pass: one mergeable
      // percentile sketch per numeric column (equi-percentile
      // endpoints), plus the non-null count the equi-height height
      // needs
      val hist =
        if (!histTargets.contains(f)) Nil
        else Seq(
          percentile_approx(c.cast("double"),
            array((0 to histogramBins).map(i =>
              lit(i.toDouble / histogramBins)): _*),
            lit(10000)).as(s"__hep_${f.name}"),
          fcount(c).as(s"__hn_${f.name}"))
      (ndv +: lens) ++ hist
    }
    val row = readVersion(v).agg(exprs.head, exprs.tail: _*).head()
    // pass 2 (histogram columns only): per-bin distinct counts over
    // the endpoints pass 1 produced — Spark's own ANALYZE recipe
    // (ApproxCountDistinctForIntervals), all columns in one agg
    val binNdvs: Map[String, Seq[Long]] =
      if (histTargets.isEmpty) Map.empty
      else {
        val endpointsOf: Map[String, Seq[Double]] = histTargets.flatMap {
          f =>
            val i = row.fieldIndex(s"__hep_${f.name}")
            if (row.isNullAt(i)) None
            else Some(f.name -> row.getSeq[Double](i))
        }.toMap
        val live = histTargets.filter(f => endpointsOf.contains(f.name))
        if (live.isEmpty) Map.empty
        else {
          import org.apache.spark.sql.GraftSqlBridge
          import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
          val aggs = live.map { f =>
            val child = GraftSqlBridge.expression(col(f.name).cast("double"))
            val eps = CreateArray(
              endpointsOf(f.name).map(e => Literal(e)).toSeq)
            GraftSqlBridge.column(
              new org.apache.spark.sql.catalyst.expressions.aggregate
                .ApproxCountDistinctForIntervals(child, eps, rsd)
                .toAggregateExpression()).as(s"__bins_${f.name}")
          }
          val r2 = readVersion(v).agg(aggs.head, aggs.tail: _*).head()
          live.map { f =>
            f.name -> r2.getSeq[Long](r2.fieldIndex(s"__bins_${f.name}"))
          }.toMap
        }
      }
    val out = targets.map { f =>
      def opt[T](name: String)(get: Int => T): Option[T] = {
        val i = row.fieldIndex(name)
        if (i < 0 || row.isNullAt(i)) None else Some(get(i))
      }
      val hist: Option[TxTable.ColHistogram] =
        binNdvs.get(f.name).flatMap { ndvs =>
          val i = row.fieldIndex(s"__hep_${f.name}")
          if (row.isNullAt(i)) None
          else {
            val eps = row.getSeq[Double](i)
            val n = row.getLong(row.fieldIndex(s"__hn_${f.name}"))
            if (eps.length != ndvs.length + 1 || n <= 0L) None
            else Some(TxTable.ColHistogram(
              n.toDouble / ndvs.length,
              eps.zip(eps.tail).zip(ndvs).map { case ((lo, hi), d) =>
                (lo, hi, d) }))
          }
        }
      f.name -> TxTable.ColAnalysis(
        row.getLong(row.fieldIndex(s"__ndv_${f.name}")),
        if (f.dataType == org.apache.spark.sql.types.StringType)
          opt(s"__avglen_${f.name}")(row.getDouble) else None,
        if (f.dataType == org.apache.spark.sql.types.StringType)
          opt(s"__maxlen_${f.name}")(row.getLong) else None,
        hist)
    }.toMap
    declareColumnAnalysis(out, v)
    out
  }

  /** Declare column statistics directly (the carrier
    * [[analyzeColumns]] uses, public so FOREIGN stats can seed the
    * CBO feed — e.g. `declareColumnAnalysis(IcebergImport
    * .statisticsNdv(spark, dir).view.mapValues(TxTable.ColAnalysis(_,
    * None, None)).toMap)` after importing a tree whose Puffin NDV is
    * already computed: one metadata commit, no data pass). Unknown
    * column names refuse — a typo'd declaration would silently never
    * serve. */
  def declareColumnAnalysis(stats: Map[String, TxTable.ColAnalysis],
      analyzedVersion: Long = currentVersion): Unit = {
    require(stats.nonEmpty, "empty column-statistics declaration")
    val schema = currentSchema
    stats.keys.foreach(c => require(
      schema.fields.exists(_.name.equalsIgnoreCase(c)),
      s"declared stats column '$c' is not in the schema"))
    val json = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(org.json4s.JObject(
        ("version" ->
          (org.json4s.JLong(analyzedVersion): org.json4s.JValue)) ::
          stats.toList.sortBy(_._1).map { case (name, a) =>
            name -> (org.json4s.JObject(
              ("ndv" -> (org.json4s.JLong(a.ndv): org.json4s.JValue)) ::
                a.avgLen.toList.map(x =>
                  "avgLen" -> (org.json4s.JDouble(x): org.json4s.JValue)) :::
                a.maxLen.toList.map(x =>
                  "maxLen" -> (org.json4s.JLong(x): org.json4s.JValue)) :::
                a.hist.toList.map(h =>
                  "hist" -> (org.json4s.JObject(
                    "h" -> org.json4s.JDouble(h.height),
                    "b" -> org.json4s.JArray(h.bins.toList.map {
                      case (lo, hi, d) => org.json4s.JArray(List(
                        org.json4s.JDouble(lo), org.json4s.JDouble(hi),
                        org.json4s.JLong(d)))
                    })): org.json4s.JValue)))
              : org.json4s.JValue)
          })))
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      commit(m.entries, base, m.declaredSchema,
        Map(TxTable.ColStatsKey -> json))
      ()
    }
  }

  /** The declared column analysis, if any: (analyzed version,
    * per-column stats). One meta read at the head — planner-path
    * cheap. */
  def columnAnalysis: Option[(Long, Map[String, TxTable.ColAnalysis])] =
    latestMeta(TxTable.ColStatsKey).flatMap { raw =>
      scala.util.Try {
        import org.json4s._
        val j = org.json4s.jackson.JsonMethods.parse(raw)
        val ver = (j \ "version") match {
          case JInt(x)  => x.toLong
          case JLong(x) => x
          case _        => -1L
        }
        val cols = j match {
          case JObject(fs) => fs.collect {
            case (name, o: JObject) if name != "version" =>
              def lng(k: String): Option[Long] = (o \ k) match {
                case JInt(x)  => Some(x.toLong)
                case JLong(x) => Some(x)
                case _        => None
              }
              def dbl(k: String): Option[Double] = (o \ k) match {
                case JDouble(x)  => Some(x)
                case JInt(x)     => Some(x.toDouble)
                case JDecimal(x) => Some(x.toDouble)
                case _           => None
              }
              def asD(v: JValue): Option[Double] = v match {
                case JDouble(x)  => Some(x)
                case JInt(x)     => Some(x.toDouble)
                case JLong(x)    => Some(x.toDouble)
                case JDecimal(x) => Some(x.toDouble)
                case _           => None
              }
              val hist: Option[TxTable.ColHistogram] =
                (o \ "hist") match {
                  case h: JObject =>
                    val bins = (h \ "b") match {
                      case JArray(bs) => bs.flatMap {
                        case JArray(List(lo, hi, d)) =>
                          (asD(lo), asD(hi), asD(d)) match {
                            case (Some(l), Some(u), Some(n)) =>
                              Some((l, u, n.toLong))
                            case _ => None
                          }
                        case _ => None
                      }
                      case _ => Nil
                    }
                    (h \ "h") match {
                      case v0 if bins.nonEmpty =>
                        asD(v0).map(TxTable.ColHistogram(_, bins))
                      case _ => None
                    }
                  case _ => None
                }
              name -> TxTable.ColAnalysis(lng("ndv").getOrElse(-1L),
                dbl("avgLen"), lng("maxLen"), hist)
          }.toMap
          case _ => Map.empty[String, TxTable.ColAnalysis]
        }
        (ver, cols.filter(_._2.ndv >= 0L))
      }.toOption
    }

  // ---- CHECK constraints (write-path governance; Delta's CHECK
  // constraint analog) ----

  private def encodeChecks(m: Map[String, String]): String =
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(org.json4s.JObject(
        m.toList.sortBy(_._1).map { case (k, v) =>
          k -> (org.json4s.JString(v): org.json4s.JValue) })))

  private def decodeChecks(s: String): Map[String, String] =
    org.json4s.jackson.JsonMethods.parse(s) match {
      case org.json4s.JObject(fs) => fs.collect {
        case (k, org.json4s.JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }

  /** (version, active set) — constraints change rarely, so the set is
    * carried forward version-by-version: a lookup at a new head loads
    * ONLY the manifests newer than the cached version (one JSON read
    * per commit since, not a full history walk per write). */
  @volatile private var checksCache: Option[(Long, Map[String, String])] =
    None

  /** Active CHECK constraints (name → SQL predicate) at the current
    * version. The full set is declared under ONE meta key per change,
    * so the newest declaration wins outright (no per-key tombstone
    * folding). */
  def checkConstraints: Map[String, String] = {
    val head = currentVersion
    if (head < 0) Map.empty
    else checksCache match {
      case Some((v, m)) if v == head => m
      case cached =>
        val floor = cached.map(_._1).getOrElse(-1L)
        val declared = versions.filter(_ > floor).sorted.reverseIterator
          .map(v => commitMeta(v).get("checks")
            .filterNot(_ == TxTable.MetaTombstone))
          .collectFirst { case Some(s) => decodeChecks(s) }
        val m = declared.orElse(cached.map(_._2)).getOrElse(Map.empty)
        checksCache = Some((head, m))
        m
    }
  }

  /** SQL-standard CHECK semantics: a NULL predicate PASSES (only
    * definite FALSE violates). */
  private def checkPasses(pred: String): Column =
    coalesce(expr(pred), lit(true))

  /** Declare a CHECK constraint: `predicateSql` must parse against
    * the schema and hold on every EXISTING row (one filter scan —
    * refused otherwise), then every later write validates its
    * incoming batch at the staging choke point (one aggregate pass
    * per batch) and refuses the commit on violation. Concurrency
    * caveat, stated not hidden: a batch staged before this
    * constraint's commit lands is admitted unchecked (the standard
    * optimistic read-validate-commit race) — re-run this method or a
    * quality sweep to converge after racing writers drain. */
  def addCheckConstraint(name: String, predicateSql: String): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name must be an identifier, got '$name'")
    createIfAbsent()
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      // validate INSIDE each attempt, over the base the commit will
      // land on: a CommitConflict retry (or a writer racing between
      // scan and commit) otherwise admits a constraint over rows it
      // never checked. The scan is the cheap limit(1) probe, so
      // re-paying it per attempt closes most of the optimistic window.
      val violating = readVersion(base)
        .filter(!checkPasses(predicateSql)).limit(1).count()
      require(violating == 0L,
        s"existing rows violate CHECK $name ($predicateSql)")
      val cur = checkConstraints
      require(!cur.contains(name), s"CHECK $name already exists")
      commit(m.entries, base, m.declaredSchema,
        Map("checks" -> encodeChecks(cur + (name -> predicateSql))))
    }
    ()
  }

  /** Retire a CHECK constraint (later writes stop validating it). */
  def dropCheckConstraint(name: String): Unit = {
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      val cur = checkConstraints
      require(cur.contains(name), s"CHECK $name does not exist")
      commit(m.entries, base, m.declaredSchema,
        Map("checks" -> encodeChecks(cur - name)))
    }
    ()
  }

  /** One aggregate pass counting violations of every active
    * constraint over an incoming batch; refuses (with per-constraint
    * counts) before any file is staged. Costs one extra evaluation of
    * the batch plan — the price of admission control; tables without
    * constraints pay nothing. */
  private def enforceChecks(batch: DataFrame): Unit = {
    val checks = checkConstraints.toSeq.sortBy(_._1)
    if (checks.nonEmpty) {
      val aggs = checks.map { case (n, p) =>
        org.apache.spark.sql.functions.count(when(!checkPasses(p), 1)).as(n) }
      val row = batch.agg(aggs.head, aggs.tail: _*).head
      checks.zipWithIndex.foreach { case ((n, p), i) =>
        if (row.getLong(i) != 0L)
          throw new IllegalArgumentException(
            s"CHECK constraint $n ($p) violated by ${row.getLong(i)} " +
              "incoming row(s); commit refused")
      }
    }
  }

  private def snapshotAt(v: Long): TxTable.Snapshot =
    new TxTable.Snapshot(v, k => metaAsOf(v, k))

  private def claimPath(v: Long): Path =
    new Path(manifestDir, f"v$v%020d.claim")

  /** Atomically claim the right to commit version `v`. Exactly one
    * caller (process- or thread-wise) wins: on the local FS this is
    * `File.createNewFile` (`open(O_CREAT|O_EXCL)` — POSIX-atomic,
    * unlike Hadoop's RawLocalFileSystem `create(overwrite = false)`
    * whose exists-check races); on HDFS `create(path, false)` is an
    * atomic server-side exclusive create. On an object store this is
    * the conditional-PUT seam. The claim is a short-lived lock marker:
    * the winner deletes it once the manifest rename lands, so a claim
    * that persists is either an in-flight commit or a crashed one
    * (see [[acquireClaim]] for how the latter is swept). */
  private def claimVersion(v: Long): Boolean = {
    val claim = claimPath(v)
    val scheme = claim.toUri.getScheme
    if (scheme == null || scheme == "file") {
      val local = new java.io.File(
        if (scheme == null) claim.toString else claim.toUri.getPath)
      try local.createNewFile()
      catch { case _: java.io.IOException => false }
    } else {
      try { fs.create(claim, false).close(); true }
      catch { case _: java.io.IOException => false }
    }
  }

  /** [[claimVersion]] plus crash recovery: losing the claim while the
    * claimed version's MANIFEST is absent means either a commit is in
    * flight (claim younger than `claimStalenessMs` → back off, the
    * caller conflicts and rebases) or the claimant died mid-commit
    * (claim stale → delete the orphan and take the claim ourselves).
    * Without this sweep an orphaned claim at `currentVersion + 1`
    * would make every future writer lose the claim forever — a
    * permanently wedged table. Size `claimStalenessMs` above the
    * longest plausible commit stall (manifest write + rename + one GC
    * pause); a stalled-not-dead winner that loses its claim to the
    * sweep still cannot lose data — its manifest rename fails and it
    * rebases. */
  private def acquireClaim(v: Long): Boolean = {
    if (claimVersion(v)) return true
    if (fs.exists(manifestPath(v))) return false // v genuinely taken
    val st =
      try Some(fs.getFileStatus(claimPath(v)))
      catch { case _: java.io.FileNotFoundException => None }
    st match {
      case None =>
        // claim vanished between our attempts (winner committed and
        // cleaned, or an orphan was swept) — one more try
        claimVersion(v)
      case Some(s)
          if System.currentTimeMillis() - s.getModificationTime >= claimStalenessMs =>
        // atomic sweep: RENAME the orphan to a unique tombstone — of N
        // competing sweepers exactly one rename succeeds, and the
        // losers never touch the winner's freshly re-created claim (a
        // plain delete here could remove it). If the rename caught a
        // claim that was re-created fresh in the meantime, put it back
        // (best effort — see note below) and treat v as taken.
        val tomb = new Path(manifestDir,
          s".swept-${UUID.randomUUID().toString.take(8)}")
        if (!fs.rename(claimPath(v), tomb)) false // another sweeper won
        else {
          val sweptStale =
            try System.currentTimeMillis() -
              fs.getFileStatus(tomb).getModificationTime >= claimStalenessMs
            catch { case _: java.io.IOException => false }
          if (sweptStale) { fs.delete(tomb, false); claimVersion(v) }
          else {
            // raced a live claimant: restore their claim. If the
            // restore itself loses a race, the victim's PUBLISH (not
            // the claim) still protects their commit — claim races
            // degrade to spurious conflicts, never to lost updates.
            fs.rename(tomb, claimPath(v))
            false
          }
        }
      case _ => false // live commit in flight
    }
  }

  /** Count of commit conflicts this instance has hit (diagnostics /
    * tests: proves the optimistic-concurrency path was exercised). */
  def commitConflicts: Long = conflictCounter.get()
  private val conflictCounter = new java.util.concurrent.atomic.AtomicLong

  private def conflict(v: Long, base: Long): Nothing = {
    conflictCounter.incrementAndGet()
    throw new TxTable.CommitConflict(
      s"commit conflict: version $v already claimed (another writer " +
        s"committed after this one read version $base)")
  }

  /** Commit `entries` as version `base + 1`, where `base` is the
    * version the writer READ its state from. Protocol: atomically
    * claim `base + 1` (exclusive create + orphan sweep — see
    * [[acquireClaim]]), move any still-staged entry into `data/`
    * (uncommitted files are thus visible there only inside this
    * claim-held window), then write the manifest to a tmp name and
    * RENAME it into place — the rename, not the claim, is the commit
    * point. If another writer committed since `base` was read, the
    * claim (or, after a stolen stale claim, the rename) fails with
    * [[TxTable.CommitConflict]]; moved files are moved back to their
    * stage paths and the caller rebases (see [[withRetry]]) instead
    * of silently dropping the other writer's commit. */
  private def commit(entries: Seq[FEntry], base: Long,
      asSchema: Option[StructType] = None,
      meta: Map[String, String] = Map.empty): Long = {
    val f = fs
    f.mkdirs(new Path(manifestDir))
    val v = base + 1
    val target = manifestPath(v)
    // fast-path reject before burning a claim: someone already won v,
    // or this writer's base is stale by more than one version
    if (f.exists(target) || currentVersion >= v) conflict(v, base)
    if (!acquireClaim(v)) conflict(v, base)
    f.mkdirs(new Path(dataDir))
    val moved = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
    def rollbackMoves(): Unit =
      moved.reverseIterator.foreach { case (from, to) => f.rename(to, from) }
    def releaseClaim(): Unit = f.delete(claimPath(v), false)
    // staged DV sidecars move into _dv/ under the same claim-held
    // window as data files (one sidecar may be shared by many entries —
    // move once, rewrite every reference)
    // only STAGE paths move into place — entries already in data/, and
    // FOREIGN absolute paths (shallow-clone references into another
    // table's data/) are referenced as-is, never touched
    def isStaged(p: String): Boolean = p.contains("/.stage-")
    val dvMoves = scala.collection.mutable.Map.empty[String, String]
    def normalizedDv(d: DvRef): DvRef =
      if (!isStaged(d.path)) d
      else d.copy(path = dvMoves.getOrElseUpdate(d.path, {
        f.mkdirs(new Path(dvDir))
        val to = new Path(dvDir, s"${UUID.randomUUID()}.dv.parquet")
        if (!f.rename(new Path(d.path), to))
          throw new IllegalStateException(s"dv stage move failed: ${d.path}")
        moved += ((new Path(d.path), to))
        s"$dvDir/${to.getName}"
      }))
    val finalEntries =
      try entries.map { e =>
        val e1 =
          if (!isStaged(e.path)) e
          else {
            val to = new Path(dataDir, s"${UUID.randomUUID()}.parquet")
            if (!f.rename(new Path(e.path), to))
              throw new IllegalStateException(s"stage move failed: ${e.path}")
            moved += ((new Path(e.path), to))
            e.copy(path = s"$dataDir/${to.getName}")
          }
        if (e1.dvs.isEmpty) e1 else e1.copy(dvs = e1.dvs.map(normalizedDv))
      }
      catch { case e: Throwable => rollbackMoves(); releaseClaim(); throw e }
    val tmp = new Path(manifestDir, s".tmp-${UUID.randomUUID().toString.take(8)}")
    try {
      val out = f.create(tmp, false)
      // schema header: carries evolution forward commit-over-commit.
      // ALWAYS written (falling back to the declared create schema) so
      // every manifest is self-describing — readers that open a table
      // directory without knowing its schema (the DSv2 provider) must
      // not depend on the constructor's declaration. Legacy manifests
      // without the header still resolve to the create schema.
      val schemaHeader = Some(asSchema
        .orElse(if (base < 0) None else loadManifest(base).declaredSchema)
        .getOrElse(schemaWithIds)) // create schema, field-id-stamped
        .filter(_.nonEmpty)
        .map(s => s"#schema\t${s.json}\n").getOrElse("")
      val metaHeader =
        if (meta.isEmpty) ""
        else "#meta\t" + org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(org.json4s.JObject(
            meta.toList.sortBy(_._1).map { case (k, v2) =>
              k -> org.json4s.JString(v2) }))) + "\n"
      val header = schemaHeader + metaHeader
      try out.write((header + finalEntries.sortBy(_.bucket)
        .map { e =>
          val name = e.path.stripPrefix(s"$dataDir/")
          val dvField = e.dvs
            .map(d => s"${d.path.stripPrefix(s"$dvDir/")}:${d.rows}")
            .mkString(";")
          if (e.dvs.nonEmpty) s"${e.bucket}\t$name\t${e.stats}\t$dvField"
          else if (e.stats.isEmpty) s"${e.bucket}\t$name"
          else s"${e.bucket}\t$name\t${e.stats}"
        }
        .mkString("", "\n", "\n")).getBytes("UTF-8"))
      finally out.close()
    } catch { case e: Throwable => rollbackMoves(); releaseClaim(); throw e }
    if (!publishManifest(tmp, target)) {
      f.delete(tmp, false)
      rollbackMoves()
      if (f.exists(target)) {
        // this writer stalled past claimStalenessMs, its claim was
        // retaken, and the thief committed v first — rebase
        conflict(v, base)
      }
      releaseClaim()
      throw new IllegalStateException(s"commit rename failed at version $v")
    }
    releaseClaim() // the claim's job ends at the committed manifest
    writeDescriptorIfAbsent()
    v
  }

  /** Self-describing WRITE metadata: `_table.json` records the key
    * columns, bucket count and bloom columns so a later schema-free
    * open ([[graft.sources.GraftDataSource.openForRead]]) can stage
    * CORRECTLY BUCKETED writes — reads don't need it, but an append
    * bucketed by the wrong keys would corrupt bucket pruning forever.
    * Written once after the first successful commit (idempotent
    * content; a racing duplicate write is harmless), best-effort: a
    * failure here never fails the commit that data correctness
    * depends on. */
  private def writeDescriptorIfAbsent(): Unit =
    try {
      val p = new Path(dir, "_table.json")
      val f = fs
      if (!f.exists(p) && keys.nonEmpty && !keys.contains("__reader__")) {
        val json = org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(org.json4s.JObject(
            "keys" -> org.json4s.JArray(
              keys.toList.map(org.json4s.JString(_))),
            "numBuckets" -> org.json4s.JInt(numBuckets),
            "bloomCols" -> org.json4s.JArray(
              bloomCols.toList.map(org.json4s.JString(_))),
            "bucketHash" -> org.json4s.JString(bucketHash),
            "fieldIds" -> org.json4s.JBool(fieldIds))))
        val out = f.create(p, false)
        try out.write(json.getBytes("UTF-8")) finally out.close()
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Atomically publish `tmp` as `target`, FAILING iff `target` exists
    * — the commit point must refuse to replace a committed manifest.
    * HDFS `rename` has exactly that contract. POSIX `rename(2)` does
    * NOT (it silently REPLACES the destination — a stalled writer
    * whose claim was swept would clobber the thief's committed version
    * and silently lose its update), so on the local FS the commit
    * point is a HARD LINK: `link(2)` fails atomically with EEXIST on
    * an existing target; the tmp name is then unlinked. On an object
    * store this is the conditional-PUT (If-None-Match) seam. */
  private def publishManifest(tmp: Path, target: Path): Boolean = {
    val scheme = target.toUri.getScheme
    if (scheme == null || scheme == "file") {
      def localFile(p: Path) = new java.io.File(
        if (p.toUri.getScheme == null) p.toString else p.toUri.getPath)
      try {
        java.nio.file.Files.createLink(
          localFile(target).toPath, localFile(tmp).toPath)
        val t = localFile(tmp)
        t.delete()
        // the Hadoop checksum shadow of the tmp name no longer gets
        // renamed along (raw link/unlink bypasses ChecksumFileSystem)
        new java.io.File(t.getParentFile, "." + t.getName + ".crc").delete()
        true
      } catch { case _: java.io.IOException => false }
    } else fs.rename(tmp, target)
  }

  /** Run `body` (which must re-read `currentVersion` as its base —
    * every mutation below does) until it commits, rebasing on
    * [[TxTable.CommitConflict]] with capped exponential backoff until
    * `commitBudgetMs` has elapsed (a TIME budget, not an attempt
    * count: a fixed small attempt count with millisecond sleeps would
    * make a healthy loser give up while a slow winner's manifest
    * write is still in flight). Each retry recomputes the mutation
    * against the NEW current snapshot, so concurrent writers
    * serialize without lost updates. Data files staged by a failed
    * attempt are simply never referenced; the mutation deletes its
    * stage on exit and `vacuum` sweeps any crash leftovers. */
  private def withRetry[A](body: => A): A = {
    val deadline = System.currentTimeMillis() + math.max(0L, commitBudgetMs)
    var attempt = 0
    var out: Option[A] = None
    while (out.isEmpty) {
      try out = Some(body)
      catch {
        case e: TxTable.CommitConflict =>
          if (System.currentTimeMillis() >= deadline) throw e
          attempt += 1
          val cap = math.min(250L, 4L << math.min(attempt, 6))
          Thread.sleep(
            java.util.concurrent.ThreadLocalRandom.current().nextLong(1L, cap + 1))
      }
    }
    out.get
  }

  def createIfAbsent(): Unit =
    // versions-based, not directory-based: a crash between mkdirs and
    // the first publish leaves the dir with no manifest — that state
    // must self-heal into v0 here, not wedge every later mutation
    if (currentVersion < 0) {
      // a bad generation expression must fail CREATE, never the first
      // insert (the Scala-API twin of the catalog's DDL validation —
      // an unvalidated nondeterministic/aggregate expression would
      // make the table permanently un-writable or un-compactable)
      TxTable.validateGeneratedExprs(spark, schema)
      // a conflict here means another writer created the table — done
      try commit(Nil, -1L)
      catch { case _: TxTable.CommitConflict => () }
    }

  // ---- reads ----

  private def emptyDfFor(s: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)

  private def emptyDf: DataFrame = emptyDfFor(currentSchema)

  /** Read `files` under schema `s`; files written before an evolution
    * commit simply lack the new columns and surface them as nulls
    * (parquet-by-declared-schema — no footer merging, no rewrite). */
  private def readFiles(files: Seq[String], s: StructType): DataFrame =
    if (files.isEmpty) emptyDfFor(s)
    else {
      val phys = physicalize(s)
      val raw = spark.read.schema(phys).parquet(files: _*)
      // files bind by PHYSICAL name; surface the declared names.
      // toDF is positional, so renamed fields alias correctly even
      // when a logical name textually equals another field's physical
      // name (legal after chained renames).
      if (phys == s) raw else raw.toDF(s.fieldNames.toSeq: _*)
    }

  /** [[readFiles]] plus provenance columns `_file` (basename) and
    * `_pos` (row position within the file) from the parquet reader's
    * `_metadata` struct — the row identity deletion vectors tombstone. */
  private def readFilesWithPos(files: Seq[String], s: StructType): DataFrame =
    if (files.isEmpty)
      emptyDfFor(s).withColumn("_file", lit("")).withColumn("_pos", lit(0L))
    else {
      val phys = physicalize(s)
      val raw = spark.read.schema(phys).parquet(files: _*)
        .withColumn("_file",
          element_at(split(col("_metadata.file_path"), "/"), -1))
        .withColumn("_pos", col("_metadata.row_index"))
      if (phys == s) raw
      else raw.select(phys.fields.zip(s.fields).map { case (p, l) =>
        col(p.name).as(l.name) } :+ col("_file") :+ col("_pos"): _*)
    }

  /** The live tombstone set of `entries`: (file basename, row position)
    * pairs from every referenced DV sidecar. */
  private def dvTombstones(entries: Seq[FEntry]): DataFrame = {
    val paths = entries.flatMap(_.dvs.map(_.path)).distinct
    if (paths.isEmpty)
      spark.range(0).select(lit("").as("_dv_file"), lit(0L).as("_dv_pos"))
    else spark.read.parquet(paths: _*).select("_dv_file", "_dv_pos").distinct()
  }

  /** MERGE-ON-READ: the live rows of `entries` — clean files stream
    * straight through; files carrying deletion vectors are anti-joined
    * against the (broadcast, tiny) tombstone set on (file, position).
    * The anti-join is a map-side broadcast filter: no shuffle of the
    * data, and files without DVs never pay it. */
  private def readEntries(entries: Seq[FEntry], s: StructType): DataFrame = {
    val (dirty, clean) = entries.partition(_.dvs.nonEmpty)
    val cleanDf = readFiles(clean.map(_.path), s)
    if (dirty.isEmpty) cleanDf
    else {
      val tomb = dvTombstones(dirty)
      val d = readFilesWithPos(dirty.map(_.path), s)
        .join(broadcast(tomb),
          col("_file") === col("_dv_file") && col("_pos") === col("_dv_pos"),
          "left_anti")
        .drop("_file", "_pos")
      cleanDf.unionByName(d)
    }
  }

  /** Snapshot read of the current version: the plan pins this
    * version's file list, so later commits never disturb it. */
  def read: DataFrame = readVersion(currentVersion)

  /** Live rows of just `buckets` — manifest-pruned driver-side, DV
    * masks applied. The read primitive for callers that know their
    * key set's buckets (e.g. an incremental view touching a handful
    * of groups on a huge table). */
  private[graft] def readBuckets(buckets: Set[Int]): DataFrame = {
    val v = currentVersion
    if (v < 0) emptyDfFor(schema)
    else {
      val m = loadManifest(v)
      readEntries(m.entries.filter(e => buckets(e.bucket)), schemaAt(m))
    }
  }

  /** This table's bucket id for a row (the manifest partitioner) —
    * lets callers compute which buckets a key set touches. */
  private[graft] def bucketColumn: Column = bucketExprFor(currentSchema)

  /** Committed schema of version `v` (schema history travels with the
    * manifests — the DSv2 time-travel surface needs it). */
  private[graft] def schemaAtVersion(v: Long): StructType =
    schemaAt(loadManifest(v))

  /** Latest version whose commit (manifest publish mtime) is at or
    * before `tsMillis` — the TIMESTAMP AS OF resolution. None when
    * the first commit is later than `tsMillis`. Driver-side metadata
    * (one file status per retained version). */
  private[graft] def versionAsOfTimestamp(tsMillis: Long): Option[Long] = {
    val f = fs
    versions.filter(v =>
      f.getFileStatus(manifestPath(v)).getModificationTime <= tsMillis)
      .lastOption
  }

  /** DSv2 provider surface ([[graft.sources.GraftDataSource]]): the
    * schema and live (data file, DV sidecars) pairs of version `v`,
    * zone-map/bloom pruned by `pred` when given — the same
    * [[pruneEntries]] path [[scanWhere]] uses, so `spark.sql` through
    * the provider skips exactly the files the Scala API would. */
  private[graft] def providerSnapshot(v: Long, pred: Option[Column])
      : (StructType, Seq[(String, Seq[String])]) = {
    val (s, es) = providerSnapshotBucketed(v, pred)
    (s, es.map { case (_, p, dvs) => p -> dvs })
  }

  /** [[providerSnapshot]] with each file's manifest BUCKET id — the
    * provider's storage-partitioned reads group files by it. */
  private[graft] def providerSnapshotBucketed(v: Long, pred: Option[Column])
      : (StructType, Seq[(Int, String, Seq[String])]) = {
    val m = loadManifest(v)
    val s = schemaAt(m)
    val es = pred.map(p => pruneEntries(m.entries, p, s)).getOrElse(m.entries)
    (s, es.map(e => (e.bucket, e.path, e.dvs.map(_.path))))
  }

  /** Planning statistics for the provider: (bytes, exact live rows)
    * of version `v` after pruning by `pred` — manifest metadata plus
    * one file-status per surviving file (bounded by the pruned file
    * count; Spark's own file sources pay the same listing). Rows are
    * None if any surviving file predates recorded stats. */
  private[graft] def providerStats(v: Long, pred: Option[Column])
      : (Long, Option[Long]) = {
    val (bytes, rows, _, _) = providerStatsFull(v, pred)
    (bytes, rows)
  }

  /** One-pass planning statistics: (bytes, exact live rows, schema,
    * per-surviving-file (parsed footer stats, DV tombstone rows)) —
    * ONE manifest load and one stats parse serve rows/bytes AND the
    * column-statistics fold (see the provider's estimateStatistics);
    * a second pass per planned scan would double metadata I/O on
    * many-file tables. */
  private[graft] def providerStatsFull(v: Long, pred: Option[Column])
      : (Long, Option[Long], StructType,
         Seq[(Option[FileStats.Stats], Long)]) = {
    // mirror planInputPartitions' v<0 guard: a created-but-never-
    // committed directory (crash between mkdirs and first publish —
    // the state currentSchema tolerates) must PLAN as empty, not
    // crash estimateStatistics with a missing-manifest read
    if (v < 0) return (0L, Some(0L), schema, Nil)
    val m = loadManifest(v)
    val s = schemaAt(m)
    val es = pred.map(p => pruneEntries(m.entries, p, s)).getOrElse(m.entries)
    val f = fs
    val bytes = es.map { e =>
      scala.util.Try(f.getFileStatus(new Path(e.path)).getLen).getOrElse(0L)
    }.sum
    val parsed = es.map(e => (e.parsedStats(physicalize(s)), e.dvs.map(_.rows).sum))
    val rows =
      if (parsed.forall(_._1.isDefined))
        Some(parsed.flatMap(_._1).map(_.rows).sum - parsed.map(_._2).sum)
      else None
    (bytes, rows, s, parsed)
  }

  /** Per-file manifest stats of version `v` for the provider's
    * AGGREGATE PUSHDOWN: (schema, per-entry (parsed footer stats,
    * deletion-vector tombstone rows)). Driver-side metadata only —
    * the pushdown that makes `SELECT count(*)` (and min/max on
    * clean snapshots) zero-data-I/O through pure SQL. */
  private[graft] def providerAggSnapshot(v: Long)
      : (StructType, Seq[(Option[FileStats.Stats], Long)]) =
    providerPrunedStats(v, None)

  /** [[providerAggSnapshot]] restricted to the files surviving `pred`
    * (the provider's planning-statistics view of a filtered scan). */
  private[graft] def providerPrunedStats(v: Long, pred: Option[Column])
      : (StructType, Seq[(Option[FileStats.Stats], Long)]) = {
    if (v < 0) return (schema, Nil)
    val m = loadManifest(v)
    val s = schemaAt(m)
    val es = pred.map(p => pruneEntries(m.entries, p, s)).getOrElse(m.entries)
    // stats documents key by PHYSICAL name (schema `s` stays declared
    // — consumers resolve stats via physicalFieldName)
    (s, es.map(e => (e.parsedStats(physicalize(s)), e.dvs.map(_.rows).sum)))
  }

  /** Time travel to any retained version — under the schema that
    * version was COMMITTED with (schema history travels too). */
  def readVersion(v: Long): DataFrame =
    if (v < 0) emptyDfFor(schema)
    else {
      val m = loadManifest(v)
      readEntries(m.entries, schemaAt(m))
    }

  /** Exact row count from manifest metadata alone when every file has
    * recorded stats (footer row counts are exact) — zero data I/O, the
    * `SELECT count(*)` fast path of the table format. Falls back to a
    * scan if any entry predates stats. */
  def count(): Long = {
    val v = currentVersion
    if (v < 0) 0L
    else {
      val entries = loadManifest(v).entries
      val statRows = entries.map(_.parsedStats(schema).map(_.rows))
      // DV'd rows subtract exactly: each DvRef carries its per-file
      // tombstone count, and tombstones never repeat (deletes are
      // computed over the already-DV-filtered live rows)
      if (statRows.forall(r => r.isDefined && r.get >= 0))
        statRows.flatten.sum - entries.flatMap(_.dvs).map(_.rows).sum
      else read.count()
    }
  }

  /** The current version's live data-file set — `Some((version,
    * files))` only when every entry is deletion-vector-free, so a
    * plain parquet scan of exactly these files equals the table's
    * contents. `None` when the table is empty or any DV is live (a
    * raw file scan would then resurrect deleted rows). Driver-side
    * metadata only; the contract the materialized-view rewrite
    * ([[graft.plans.MvRewrite]]) matches scans against. */
  def liveFileSet: Option[(Long, Set[String])] = {
    val v = currentVersion
    if (v < 0) None
    else {
      val m = loadManifest(v)
      // a renamed column breaks the raw-scan equivalence too: a plain
      // parquet read surfaces PHYSICAL names, not the declared ones
      if (m.entries.exists(_.dvs.nonEmpty) ||
        schemaAt(m).fields.exists(f => physicalFieldName(f) != f.name)) None
      else Some((v, m.entries.map(_.path).toSet))
    }
  }

  // ---- data skipping (manifest zone maps) ----

  /** Skipping diagnostics: of `total` files in the version, `scanned`
    * survived zone-map pruning for the predicate. */
  final case class SkipReport(scanned: Int, total: Int) {
    def skipped: Int = total - scanned
  }

  /** Resolve a user `Column` predicate into an ANALYZED Catalyst
    * expression by analyzing a filter over an empty relation with the
    * table schema — Spark's own analyzer does name resolution and type
    * coercion, so the zone-map evaluator sees exact types. Driver-only,
    * once per query. None → predicate shapes we can't resolve (then
    * nothing is pruned). */
  private def analyzedPredicate(pred: Column, s: StructType): Option[
      org.apache.spark.sql.catalyst.expressions.Expression] =
    scala.util.Try {
      emptyDfFor(s).filter(pred).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
    }.toOption.flatten

  /** Schema is threaded in by the caller (it has the loaded manifest)
    * rather than re-derived: `currentSchema` is a manifest load, and on
    * an object store every avoidable metadata read is a round-trip. */
  private def pruneEntries(
      entries: Seq[FEntry], pred: Column, s: StructType): Seq[FEntry] = {
    analyzedPredicate(pred, s) match {
      case None => entries
      case Some(logicalCond) =>
        // stats documents and parquet footers are keyed by PHYSICAL
        // column names: rewrite the analyzed predicate's attribute
        // references before matching (no-op without renames)
        val mapping = mappingOf(s)
        val phys = physicalize(s)
        val cond =
          if (mapping.isEmpty) logicalCond
          else logicalCond.transform {
            case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
                if mapping.contains(a.name.toLowerCase) =>
              a.withName(mapping(a.name.toLowerCase))
          }
        val zoneKept = entries.filter { e =>
          e.parsedStats(phys) match {
            case Some(st) => FileStats.mayMatch(st, cond, phys)
            case None => true // no stats recorded → never skip
          }
        }
        // second layer: parquet bloom probes for equality conjuncts on
        // bloom-enabled columns — catches what zone maps can't (values
        // hash-scattered across every file's [min, max]). Probes are
        // driver-side footer reads, so bound them: past the cap the
        // planning cost would rival the scan it saves.
        val eqs = FileStats.equalityConjuncts(cond, phys)
          .filter { case (c, _) => keys.contains(c) || bloomCols.contains(c) }
        if (eqs.isEmpty || zoneKept.length > TxTable.MaxBloomProbeFiles) zoneKept
        else {
          val conf = spark.sparkContext.hadoopConfiguration
          zoneKept.filter(e => FileStats.bloomMayContain(e.path, conf, eqs, phys))
        }
    }
  }

  /** Filtered read with FILE-LEVEL data skipping: files whose manifest
    * zone maps prove no row can satisfy `pred` are dropped before Spark
    * plans anything — the manifest-metadata analog of partition
    * pruning, effective on any column with write-time locality (ingest
    * batches clustered by event time, [[compactClustered]] layouts).
    * The predicate is still applied to surviving files, so results are
    * identical to `read.filter(pred)` regardless of pruning. */
  def scanWhere(pred: Column): DataFrame = {
    val v = currentVersion
    if (v < 0) emptyDfFor(schema).filter(pred)
    else {
      val m = loadManifest(v)
      val s = schemaAt(m)
      readEntries(pruneEntries(m.entries, pred, s), s).filter(pred)
    }
  }

  /** What [[scanWhere]] would prune, for tests and EXPLAIN-style
    * diagnostics — no data I/O. */
  def skipReport(pred: Column): SkipReport = {
    val v = currentVersion
    if (v < 0) return SkipReport(0, 0)
    val m = loadManifest(v)
    SkipReport(
      pruneEntries(m.entries, pred, schemaAt(m)).length, m.entries.length)
  }

  // ---- change data capture ----

  /** Row-level NET change feed between two committed versions (the
    * `table_changes` analog, derived — no extra write-path cost).
    *
    * Scale shape: the manifest file-diff runs driver-side first, so
    * files present in BOTH versions (every untouched bucket — commits
    * re-link them) contribute ZERO I/O; only rewritten files are read,
    * and the single full-outer key join shuffles just those delta
    * rows. A 1-row upsert on a 100 TB table diffs one bucket.
    *
    * Output: the table schema plus `_change_type` ∈ insert | delete |
    * update_preimage | update_postimage. Unchanged rows that merely
    * rode along in a rewritten bucket are dropped by the join's
    * null-safe column compare. NET means a key upserted then deleted
    * between `fromV` and `toV` shows only its net effect; use
    * [[changeFeed]] for per-commit granularity. */
  def changes(fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"changes requires fromV <= toV ($fromV > $toV)")
    val fromE = if (fromV < 0) Nil else loadManifest(fromV).entries
    val toM = loadManifest(toV)
    val toE = toM.entries
    // both sides read under the TO version's schema: pre-evolution
    // files surface new columns as null, so an evolution commit's
    // changed rows diff correctly
    val s = schemaAt(toM)
    // identity includes the DV chain: a deletion-vector commit re-links
    // the data file but shrinks its live rows, so it must diff
    val fromIds = fromE.map(_.changeId).toSet
    val toIds = toE.map(_.changeId).toSet
    val pre = readEntries(fromE.filterNot(e => toIds(e.changeId)), s)
    val post = readEntries(toE.filterNot(e => fromIds(e.changeId)), s)
    // key references by the TO version's declared names (renamed key
    // columns keep their physical identity, so the diff join is still
    // bucket-aligned); both sides were read under `s`, so names agree
    val keyNames = logicalKeyNames(s)
    val dataCols = s.fields.map(_.name).filterNot(keyNames.contains)
    def tagged(df: DataFrame, tag: String) = df.select(
      (keyNames.map(col) ++ dataCols.map(c => col(c).as(s"_${tag}_$c")) :+
        lit(true).as(s"_in_$tag")): _*)
    // null-safe key match: a NULL-keyed row present in both versions
    // must pair up (plain `=` would emit a spurious delete+insert)
    val joined = tagged(pre, "pre").alias("_cl")
      .join(tagged(post, "post").alias("_cr"),
        keyNames.map(k => col(s"_cl.$k") <=> col(s"_cr.$k")).reduce(_ && _),
        "full_outer")
      .select(keyNames.map(k =>
        coalesce(col(s"_cl.$k"), col(s"_cr.$k")).as(k)) ++
        (dataCols.map(c => col(s"_pre_$c")) ++
          dataCols.map(c => col(s"_post_$c")) ++
          Seq(col("_in_pre"), col("_in_post"))): _*)
    def image(tag: String, kind: String) = struct(
      (lit(kind).as("_change_type") +: keyNames.map(col)) ++
        dataCols.map(c => col(s"_${tag}_$c").as(c)): _*)
    // VARIANT columns have no ordering, so <=> refuses them: compare
    // their canonical JSON rendering instead (same bytes => same
    // text; a changed value => changed text). Every other type
    // null-safe-compares directly.
    def eqCol(c: String): Column = s.fields.find(_.name == c)
      .map(_.dataType) match {
      case Some(_: org.apache.spark.sql.types.VariantType) =>
        to_json(col(s"_pre_$c")) <=> to_json(col(s"_post_$c"))
      case _ => col(s"_pre_$c") <=> col(s"_post_$c")
    }
    val differs =
      if (dataCols.isEmpty) lit(false)
      else !dataCols.map(eqCol).reduce(_ && _)
    joined.select(explode(
      when(col("_in_pre").isNull, array(image("post", "insert")))
        .when(col("_in_post").isNull, array(image("pre", "delete")))
        .when(differs, array(
          image("pre", "update_preimage"), image("post", "update_postimage")))
        // unchanged row in a rewritten bucket → empty array of the
        // right struct type (slice keeps the element type; array()
        // alone would be array<string>)
        .otherwise(slice(array(image("pre", "x")), 1, 0))
    ).as("_c")).select("_c.*")
  }

  /** Per-commit change feed AFTER `fromV` (exclusive) up to the current
    * version: one [[changes]] diff per commit, stamped with
    * `_commit_version` — replaying it in version order reconstructs
    * the table state (proven in CdcSpec). Requires the versions to
    * still be retained (vacuum shrinks the horizon). */
  def changeFeed(fromV: Long): DataFrame = {
    val all = versions // ONE listing; per-step prev comes from this
    val cur = all.lastOption.getOrElse(-1L)
    if (cur < 0) // never created / no commit yet: an empty, typed feed
      return emptyDfFor(schema)
        .withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L))
    val vs = all.filter(v => v > fromV && v <= cur)
    val steps = vs.map { v =>
      val prev = all.filter(_ < v).lastOption.getOrElse(-1L)
      changes(prev, v).withColumn("_commit_version", lit(v))
    }
    steps.reduceOption(_ unionByName _).getOrElse(
      changes(cur, cur).withColumn("_commit_version", lit(cur)))
  }

  /** Point lookup via MANIFEST pruning: the key's bucket is computed
    * driver-side with the same Murmur3 (seed 42) Spark's `hash()`
    * uses, and only that bucket's files are planned — metadata-level
    * data skipping, no directory listing of the other buckets. */
  def lookup(values: Seq[Any]): DataFrame = {
    require(values.length == keys.length, s"expected ${keys.length} key values")
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Murmur3Hash}
    val lits = keys.zip(values).map { case (k, v) =>
      val dt = schema(k).dataType
      // coerce driver-side exactly as the filter path would: a scala
      // Int against a LongType key must hash as a Long, not throw
      val raw = Literal(v)
      if (raw.dataType == dt) raw
      else Literal.create(Cast(raw, dt, Some("UTC")).eval(null), dt)
    }
    val b =
      if (bucketHash == TxTable.IcebergBucketHash)
        // a NULL probe can't exist under the non-nullable key
        // contract; any bucket serves the (empty) predicate result
        Option(lits.head.value).map(v => graft.functions.IcebergBucketFn
          .bucketOf(v, lits.head.dataType, numBuckets)).getOrElse(0)
      else math.floorMod(
        Murmur3Hash(lits, 42).eval(null).asInstanceOf[Int], numBuckets)
    // null-safe: NULL-keyed rows are first-class (see keyMatchJoin) and
    // must be findable — `===` would filter them out silently.
    // Predicates bind the CURRENT declared key names (renamed keys
    // hash identically — values, not names, feed the bucket hash).
    def keyPredFor(s: StructType) =
      logicalKeyNames(s).zip(keys.zip(values)).map { case (lk, (k, v)) =>
        col(lk) <=> lit(v).cast(schema(k).dataType)
      }.reduce(_ && _)
    val v0 = currentVersion
    if (v0 < 0) emptyDfFor(schema).filter(keyPredFor(schema))
    else {
      val m = loadManifest(v0)
      val s = schemaAt(m)
      val keyPred = keyPredFor(s)
      val picked = pruneEntries( // bucket pruning, then zone maps within
        m.entries.filter(_.bucket == b), keyPred, s)
      readEntries(picked, s).filter(keyPred)
    }
  }

  // ---- writes ----

  /** Write `df` bucketed into fresh immutable files under a private
    * `.stage-*` directory — NOT `data/`: uncommitted bytes must never
    * be visible where `vacuum` deletes unreferenced files, or a
    * `vacuum(minAgeMs = 0)` racing an in-flight writer would delete
    * its staged files before the commit references them. [[commit]]
    * moves the files into `data/` only after the version claim is
    * won. Returns the manifest entries (stage paths) and the stage
    * dir, which the caller deletes when the mutation ends. One file
    * per non-empty bucket. */
  private[graft] def generatedFields(s: StructType): Seq[StructField] =
    s.fields.toSeq.filter(_.metadata.contains(TxTable.GeneratedExprKey))

  /** GENERATED ALWAYS AS (expr) columns, materialized for one write:
    * a row that OMITS the column (or carries null — the conform paths
    * null-fill omitted columns before this point, so null IS the
    * omission signal, same contract as identity) takes the computed
    * expression; a row that PROVIDES a value must agree with the
    * expression per the null-safe equality, enforced by a per-row
    * codegen'd `raise_error` — single pass, no extra validation job.
    *
    * `verify = false` is the REWRITE/MAINTENANCE mode: stored values
    * pass through verbatim (nulls still compute). Re-staged rows
    * already passed admission once, and re-enforcing would make
    * maintenance hostage to session environment — a deterministic
    * expression can still be SESSION-dependent (`year(ts)` reads the
    * session time zone), so a compaction run from a differently-zoned
    * session must neither fail the table nor silently rewrite
    * untouched rows' values. */
  private def applyGenerated(df: DataFrame, s: StructType,
      verify: Boolean): DataFrame = {
    val gens = generatedFields(s)
    if (gens.isEmpty) return df
    gens.foldLeft(df) { (d, f) =>
      val gen = expr(f.metadata.getString(TxTable.GeneratedExprKey))
        .cast(f.dataType)
      if (!d.columns.exists(_.equalsIgnoreCase(f.name)))
        d.withColumn(f.name, gen)
      else if (!verify)
        d.withColumn(f.name, when(col(f.name).isNull, gen)
          .otherwise(col(f.name)))
      else d.withColumn(f.name,
        when(col(f.name).isNull, gen)
          .otherwise(when(col(f.name) <=> gen, col(f.name))
            .otherwise(raise_error(concat(
              lit(s"generated column '${f.name}' = "),
              col(f.name).cast("string"),
              lit(" does not match GENERATED ALWAYS AS (" +
                f.metadata.getString(TxTable.GeneratedExprKey) + ") = "),
              gen.cast("string"))).cast(f.dataType))))
    }
  }

  /** Null out generated columns so [[applyGenerated]] RECOMPUTES them
    * — the row-rewrite paths' contract (upsert / MERGE post-images /
    * CDC apply): an updated row's stored generated value predates the
    * update of its base columns, so carrying it through would either
    * serve a stale value or (worse) trip the write-path equality
    * check. Delta's UPDATE semantics: generated columns recompute.
    * Re-staged UNTOUCHED rows recompute to their stored values (the
    * expression is deterministic by CREATE-time contract). */
  private def resetGenerated(df: DataFrame, s: StructType): DataFrame =
    generatedFields(s).foldLeft(df)((d, f) =>
      if (d.columns.exists(_.equalsIgnoreCase(f.name)))
        d.withColumn(f.name, lit(null).cast(f.dataType))
      else d)

  private def stageFiles(
      df: DataFrame, asSchema: StructType, layout: Option[Column] = None,
      filesPerBucket: Int = 1,
      /** total range partitions for the layout split; defaults to
        * `numBuckets * filesPerBucket` — partial-table rewrites (e.g.
        * [[compactBucketsClustered]]) pass `buckets-in-frame ×
        * filesPerBucket` so the per-bucket file target holds when the
        * frame covers only the fragmented buckets. */
      layoutPartitions: Option[Int] = None,
      /** false on REWRITE/MAINTENANCE paths: re-staged rows passed
        * admission once; see [[applyGenerated]]'s session-dependence
        * rationale. Fresh-data paths keep the per-row equality check. */
      verifyGenerated: Boolean = true): (Seq[FEntry], Path) = {
    val f = fs
    val stage = new Path(dir, s".stage-${UUID.randomUUID().toString.take(8)}")
    val withGen = applyGenerated(df, asSchema, verifyGenerated)
    val projected = withGen.select(
      asSchema.fields.map(fl => col(fl.name).cast(fl.dataType)): _*)
    // admission control: every write path stages through here, so the
    // CHECK pass covers append/upsert/insert-if-absent/apply-changes
    // alike (compaction re-stages rows that already passed). Runs on
    // the LOGICAL projection: CHECK text binds declared names (a
    // rename of a CHECK-referenced column is refused, so the binding
    // can never drift).
    enforceChecks(projected)
    val cast = projected.withColumn("_kb", bucketExprFor(asSchema))
    val laidOut = layout match {
      case None => cast.repartition(col("_kb"))
      case Some(key) =>
        // range-split each bucket on the layout key and sort files by
        // it: files get disjoint key ranges, so zone maps prune within
        // every bucket. The key is a scratch column — computed for the
        // layout, dropped before writing (never stored).
        val keyed = cast.withColumn("_layout", key)
        (if (filesPerBucket <= 1) keyed.repartition(col("_kb"))
         else keyed.repartitionByRange(
           layoutPartitions.getOrElse(numBuckets * filesPerBucket),
           col("_kb"), col("_layout")))
          .sortWithinPartitions(col("_kb"), col("_layout"))
          .drop("_layout")
    }
    // files persist PHYSICAL column names (stable across renames):
    // rename the mapped fields just before the write, after every
    // logical-name-bound step (checks, bucket hash, layout key) ran
    val physSchema = physicalize(asSchema)
    // one POSITIONAL rename (laidOut = the asSchema projection + _kb):
    // pairwise withColumnRenamed would collide on swap renames
    val physDf =
      if (fieldIds && TxTable.fieldIdsComplete(asSchema))
        // field-id tables additionally stamp `parquet.field.id` (the
        // sticky graft.fieldId) so every footer binds id-mode readers;
        // positional select keeps swap renames safe like toDF
        laidOut.select(asSchema.fields.map { f =>
          val md = new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id",
            f.metadata.getLong(TxTable.FieldIdKey)).build()
          col(f.name).as(physicalFieldName(f), md)
        }.toSeq :+ col("_kb"): _*)
      else if (physSchema == asSchema) laidOut
      else laidOut.toDF(physSchema.fieldNames.toSeq :+ "_kb": _*)
    // bloom filters on key (+ configured) columns: point-read file
    // skipping where zone maps are blind (hash-scattered values).
    // Bounded at 64 KiB per column chunk so file bloat stays marginal.
    // Keys/bloom descriptors are physical names, matching the file.
    val withBlooms = (keys ++ bloomCols).distinct
      .filter(physSchema.fieldNames.contains)
      .foldLeft(physDf.write.option("parquet.bloom.filter.max.bytes", "65536")) {
        (w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true")
      }
    TxTable.withUnshreddedVariant(spark, asSchema) {
      withBlooms.mode(SaveMode.Overwrite).partitionBy("_kb")
        .parquet(stage.toString)
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val files = f.listStatus(stage).toSeq
      .filter(_.getPath.getName.startsWith("_kb="))
      .flatMap { d =>
        val b = d.getPath.getName.stripPrefix("_kb=").toInt
        f.listStatus(d.getPath).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(file => b -> file.getPath.toString)
      }
    // zone maps from the parquet FOOTER — metadata-only, no rescan of
    // just-written data (the Delta stats analog). Footers are read
    // CONCURRENTLY: this loop runs on the driver after every staged
    // write, and a serial read was ~20-30 ms × files per commit —
    // the dominant driver-side cost of a small commit (guide §7.3).
    // Order is preserved (indexed results), so manifests are
    // byte-identical to the serial read's.
    // on the SHARED daemon executor (Pools.io) — the previous shape
    // created and destroyed a fixed pool per commit, paying thread
    // creation on exactly the small commits this concurrency targets
    val entries =
      if (files.size <= 1)
        files.map { case (b, p) =>
          FEntry(b, p, scala.util.Try(
            FileStats.fromFooter(p, physSchema, conf).toJson).getOrElse(""))
        }
      else
        Pools.runAll("footer-stats", 8)(files.map { case (_, p) =>
          p -> (() => scala.util.Try(
            FileStats.fromFooter(p, physSchema, conf).toJson).getOrElse(""))
        }).zip(files).map { case (json, (b, p)) => FEntry(b, p, json) }
    (entries, stage)
  }

  /** Stage `df`, commit `keep ∪ staged` on top of `base`, and delete
    * the stage dir whether or not the commit succeeded (a failed
    * mutation's data is garbage; the table state is untouched). */
  private def stageAndCommit(
      keep: Seq[FEntry], df: DataFrame, base: Long, asSchema: StructType,
      layout: Option[Column] = None, filesPerBucket: Int = 1,
      meta: Map[String, String] = Map.empty,
      /** extra commit meta derived from the STAGED entries' stats
        * (identity high-water marks need the staged max id). */
      metaOf: Option[Seq[FEntry] => Map[String, String]] = None,
      layoutPartitions: Option[Int] = None,
      verifyGenerated: Boolean = true): Long = {
    val (staged, stage) = stageFiles(df, asSchema, layout, filesPerBucket,
      layoutPartitions, verifyGenerated)
    try commit(keep ++ staged, base, Some(asSchema),
      metaOf.fold(meta)(f => meta ++ f(staged)))
    finally fs.delete(stage, true)
  }

  /** `cur` widened by `incoming`'s NEW columns (appended, nullable).
    * Columns present in both must keep their exact type — evolution
    * adds columns, never mutates them. */
  private def widen(cur: StructType, incoming: StructType): StructType = {
    // CASE-INSENSITIVE matching, like Spark's own resolver under the
    // default spark.sql.caseSensitive=false: 'ID' against existing
    // 'id' is the SAME column (a case-sensitive compare would append a
    // duplicate that parquet then rejects as ambiguous)
    incoming.fields.foreach { f =>
      cur.find(_.name.equalsIgnoreCase(f.name)).foreach { have =>
        require(have.dataType == f.dataType,
          s"schema evolution cannot change column '${f.name}' from " +
            s"${have.dataType.simpleString} to ${f.dataType.simpleString}")
      }
    }
    val added = incoming.fields
      .filterNot(f => cur.fieldNames.exists(_.equalsIgnoreCase(f.name)))
    // RESURRECTION GUARD: a name dropped by dropColumns still exists
    // physically in pre-drop data files — re-adding it would read
    // those stale values back as live data. Permanently refused; the
    // remedy is a physical migration (rebucketTo).
    added.foreach { f =>
      require(!droppedColumns.contains(f.name.toLowerCase),
        s"column '${f.name}' was previously dropped - pre-drop files " +
          "still hold its values, which a re-added column would " +
          "silently resurrect; migrate to a fresh table (rebucketTo) " +
          "to reuse the name")
      // PHYSICAL-namespace guard: a new column binds files under its
      // own name; colliding with a renamed column's stable physical
      // name would make two logical columns share one parquet column
      cur.fields.find(c => c.name != physicalFieldName(c) &&
          physicalFieldName(c).equalsIgnoreCase(f.name)).foreach { c =>
        throw new IllegalArgumentException(
          s"column name '${f.name}' is the physical (file-side) name " +
            s"of renamed column '${c.name}' - existing files already " +
            "bind it; choose a different name")
      }
    }
    // added fields carry NO metadata (so no mapping key): their
    // physical name is their declared name. Field-id tables stamp the
    // NEXT id: max over the live schema AND the persisted watermark
    // ([[dropColumns]] records it), so a retired column's id is never
    // reissued — old footers still carry it, and an id-binding reader
    // would resurrect the dropped bytes into the new column.
    var nextId = math.max(TxTable.maxFieldId(cur),
      if (fieldIds) latestMeta(TxTable.MaxFieldIdKey)
        .flatMap(_.toLongOption).getOrElse(0L)
      else 0L)
    StructType(cur.fields ++
      added.map { f =>
        val md =
          if (!fieldIds) org.apache.spark.sql.types.Metadata.empty
          else {
            nextId += 1
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong(TxTable.FieldIdKey, nextId).build()
          }
        StructField(f.name, f.dataType, nullable = true, md)
      })
  }

  /** `df` shaped to `target`: present columns cast (matched
    * case-insensitively, renamed to the stored spelling), absent
    * columns null-filled (evolving writers may omit columns). */
  private def conform(df: DataFrame, target: StructType): DataFrame =
    TxTable.conformTo(df, target)

  /** S12 — append: new files, manifest = old ∪ new. The staged files
    * don't depend on the base version, so a rebase after a conflict
    * only re-reads the manifest and re-commits — no data rewrite
    * (commit's post-conflict rollback returns them to the stage).
    * Tables with IDENTITY columns route through the allocating core
    * (high-water-mark CAS — see [[appendIfMetaOf]]). */
  def append(df: DataFrame): Unit = { appendCommit(df); () }

  // ---- identity columns (GENERATED ALWAYS AS IDENTITY) ----
  //
  // Spark 4's parser turns `row_id BIGINT GENERATED ALWAYS AS
  // IDENTITY [(START WITH s INCREMENT BY p)]` (and the BY DEFAULT
  // variant) into the column-metadata keys `identity.start` /
  // `identity.step` / `identity.allowExplicitInsert`, which the
  // declared schema persists verbatim — exactly like column
  // DEFAULTs. Allocation is the Delta recipe: a HIGH-WATER MARK
  // rides commit meta (`identity.<physical>.next`, carried forward
  // by vacuum like every application watermark); an append reads the
  // mark, generates `mark + step * monotonically_increasing_id()`
  // per row (GAPS ARE ALLOWED by identity semantics — the
  // per-partition id stride leaves them, which is what makes
  // generation a zero-shuffle, single-pass expression at any scale),
  // derives the new mark from the STAGED files' footer stats (no
  // second read), and commits with a CAS on the mark — two
  // concurrent appends can never allocate overlapping ids: the loser
  // re-reads the winner's mark and re-stages.
  //
  // UPSERT semantics: an upsert's rows carry their OWN identity (ids
  // are the row identity the keys round-trip); the engine neither
  // generates nor validates there — the SQL-standard GENERATED BY
  // DEFAULT contract (PostgreSQL sequences behave identically on
  // explicit inserts). MERGE inserts DO allocate (see applyRowDelta).

  private[graft] def identityFields(s: StructType): Seq[StructField] =
    s.fields.toSeq.filter(_.metadata.contains(TxTable.IdentityStartKey))

  private def identityMetaKey(f: StructField): String =
    s"identity.${physicalFieldName(f)}.next"

  /** Next id this table would allocate for identity column `f`. */
  private[graft] def identityNext(f: StructField): Long =
    latestMeta(identityMetaKey(f)).map(_.toLong)
      .getOrElse(f.metadata.getLong(TxTable.IdentityStartKey))

  /** `f`'s value for an incoming row: explicit-null rows take the
    * generated id; non-null rows are the caller's — accepted under
    * GENERATED BY DEFAULT, a per-row `raise_error` under ALWAYS
    * (single pass, codegen'd, no extra validation job). */
  /** The raw generated-id expression for `f` from mark `next`. */
  private def identityGen(f: StructField, next: Long): Column = {
    require(f.dataType == org.apache.spark.sql.types.LongType,
      s"identity column '${f.name}' must be BIGINT, " +
        s"got ${f.dataType.simpleString}")
    (lit(next) + lit(f.metadata.getLong(TxTable.IdentityStepKey)) *
      monotonically_increasing_id()).cast(f.dataType)
  }

  private def identityValue(f: StructField, next: Long): Column = {
    val gen = identityGen(f, next)
    val explicitOk =
      f.metadata.contains(TxTable.IdentityAllowExplicitKey) &&
        f.metadata.getBoolean(TxTable.IdentityAllowExplicitKey)
    if (explicitOk) coalesce(col(f.name), gen)
    else when(col(f.name).isNull, gen).otherwise(raise_error(concat(
      lit(s"identity column '${f.name}' is GENERATED ALWAYS - " +
        "explicit value "), col(f.name).cast("string"),
      lit(" is not accepted (omit the column)"))).cast(f.dataType))
  }

  /** New high-water mark after `staged` landed: one past the extreme
    * id actually staged (from footer stats — zero data I/O), never
    * behind the claimed mark. */
  private def identityAdvance(f: StructField, claimed: Long,
      staged: Seq[FEntry]): Long = {
    val step = f.metadata.getLong(TxTable.IdentityStepKey)
    val phys = physicalize(currentSchema)
    val pname = physicalFieldName(f)
    val extremes = staged.flatMap { e =>
      e.parsedStats(phys).flatMap(_.cols.get(pname))
        .flatMap(cs => if (step > 0) cs.max else cs.min) match {
        case Some(l: Long) => Some(l)
        case Some(i: Int)  => Some(i.toLong)
        case _ =>
          // stats-less staged file (footer read failed): one bounded
          // re-read of THAT file only
          val agg = if (step > 0) max(col(pname)) else min(col(pname))
          Option(spark.read.parquet(e.path).agg(agg).head.get(0))
            .map(_.asInstanceOf[Number].longValue())
      }
    }
    if (extremes.isEmpty) claimed
    else if (step > 0) math.max(claimed, extremes.max + step)
    else math.min(claimed, extremes.min + step)
  }


  /** [[append]] returning the version THIS append committed — callers
    * that need the version must use this, never a re-read of
    * `currentVersion` (a concurrent writer may advance the head in
    * between: TOCTOU). */
  def appendCommit(df: DataFrame): Long = {
    createIfAbsent()
    if (identityFields(currentSchema).nonEmpty) {
      // allocating path: ids generate from the CAS'd high-water
      // mark (pre = always-true - only a stale mark re-stages);
      // auto-compaction runs inside the allocating core
      appendIfMetaOf(df, _ => Map.empty)(_ => true).get._2
    } else {
      val v = {
        val (staged, stage) = stageFiles(df, currentSchema)
        try withRetry {
          val base = currentVersion
          commit(loadManifest(base).entries ++ staged, base)
        } finally fs.delete(stage, true)
      }
      maybeAutoCompact()
      v
    }
  }

  /** WRITE-TRIGGERED auto-compaction (the `autoCompact` analog): when
    * the table property `graft.autoCompact.minFiles` is set, every
    * append that leaves a bucket holding at least that many files is
    * followed by a [[compactBuckets]] pass over exactly those
    * buckets — continuous ingest then never needs a scheduled
    * OPTIMIZE for small files. The decision is ONE driver-side
    * manifest read (zero data I/O below the threshold); the
    * compaction commit is `layout_only`, so streaming tail readers
    * skip it; failures are swallowed after the data landed (a lost
    * compaction race just leaves the next append to retry — the
    * APPEND must never fail because maintenance did). */
  private def maybeAutoCompact(): Unit =
    tableProperties.get(TxTable.AutoCompactKey)
      .flatMap(_.toIntOption).filter(_ >= 2).foreach { minFiles =>
        // graft.autoCluster.by upgrades the follow-up from a plain
        // one-file-per-bucket squash to a clustered rewrite of the
        // SAME fragmented buckets — continuous ingest keeps zone-map
        // pruning on the cluster key tight with no scheduled OPTIMIZE
        // (policy owned by TxTable.autoClusterPolicy, shared with
        // CALL graft.maintenance so the two triggers never drift)
        try {
          TxTable.autoClusterPolicy(tableProperties, minFiles) match {
            case Some((eff, cols, fpb)) =>
              compactBucketsClustered(eff, cols, fpb)
            case None => compactBuckets(minFiles)
          }
          ()
        } catch { case scala.util.control.NonFatal(_) => () }
      }

  /** [[append]] with SCHEMA EVOLUTION: columns of `df` not yet in the
    * table are added (nullable) to the table schema; columns `df`
    * omits are null-filled. Existing data files are NOT rewritten —
    * they lack the new columns physically and read as null. Types of
    * existing columns never change. */
  def appendEvolving(df: DataFrame): Unit = {
    createIfAbsent()
    // same refusal as appendEvolvingIf: the evolving path widens the
    // schema inside its commit loop, so identity allocation (which
    // pins the generated frame to a mark BEFORE staging) cannot ride
    // it — landing NULL ids silently would be worse than refusing
    require(identityFields(currentSchema).isEmpty,
      s"schema-evolving appends into $dir are not supported with " +
        "IDENTITY columns - use the fixed-schema append path")
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      val target = widen(schemaAt(m), df.schema)
      stageAndCommit(m.entries, conform(df, target), base, target)
    }
  }

  /** [[upsert]] with SCHEMA EVOLUTION (see [[appendEvolving]]).
    * Update rows that omit an existing column null it — upsert is
    * whole-row last-writer-wins, same as the non-evolving path. */
  def upsertEvolving(df: DataFrame): Unit = {
    createIfAbsent()
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      val target = widen(schemaAt(m), df.schema)
      upsertOnto(m, conform(df, target), base, target)
    }
  }

  /** S9 — insert keys not present (ON CONFLICT DO NOTHING). */
  def insertIfAbsent(df: DataFrame): Unit = {
    createIfAbsent()
    withRetry {
      val base = currentVersion
      val cur = loadManifest(base).entries
      val s = currentSchema
      val incoming = df.dropDuplicates(logicalKeyNames(s))
      val fresh = keyMatchJoin(incoming, readEntries(cur, s), "left_anti", s)
      stageAndCommit(cur, fresh, base, s)
    }
  }

  /** S10/S13 — MERGE, last-writer-wins per key. Only files of buckets
    * containing updated keys are rewritten; every other file is
    * re-linked into the new manifest untouched. */
  def upsert(df: DataFrame): Unit = upsert(df, Map.empty[String, String])

  /** [[upsert]] carrying commit metadata — e.g. an incremental view's
    * applied-source-version watermark, made ATOMIC with the data by
    * riding the same manifest rename (see [[commitMeta]]). */
  def upsert(df: DataFrame, meta: Map[String, String]): Unit = {
    createIfAbsent()
    // no localCheckpoint needed: even if `df` derives from this table,
    // its plan pins the files of the snapshot it was read from, which
    // a commit never mutates (only vacuum deletes files)
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      val target = schemaAt(m)
      val updates = df
        .select(target.fields.map(fl => col(fl.name).cast(fl.dataType)): _*)
      upsertOnto(m, updates, base, target, meta)
    }
  }

  /** MERGE-ON-READ upsert: the deletion-vector twin of [[upsert]].
    * Old versions of updated keys are TOMBSTONED (one tiny sidecar),
    * the new rows land in fresh files, and every existing data file
    * re-links untouched — a 1-row update on a 100 TB table writes one
    * small file plus kilobytes of tombstones, where [[upsert]] rewrites
    * the whole bucket. Same last-writer-wins-per-key semantics,
    * byte-identical read results (parity-tested); reads pay the DV
    * mask until a bucket rewrite or [[materializeDeletes]] folds it in.
    * Prefer [[upsert]] when updates cluster densely in few buckets
    * (the rewrite amortizes); prefer this when updates are sparse. */
  def upsertLight(df: DataFrame): Unit = {
    createIfAbsent()
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      val target = schemaAt(m)
      val updates = df
        .select(target.fields.map(fl => col(fl.name).cast(fl.dataType)): _*)
        .dropDuplicates(logicalKeyNames(target))
      val touched = updates.select(bucketExprFor(target).as("_kb")).distinct()
        .collect().map(_.getInt(0)).toSet
      if (touched.nonEmpty) {
        val hit = m.entries.filter(e => touched(e.bucket))
        // live positions of the keys being replaced (existing DVs apply:
        // an already-tombstoned row must not be tombstoned twice)
        val (dirty, clean) = hit.partition(_.dvs.nonEmpty)
        val cleanPos = readFilesWithPos(clean.map(_.path), target)
        val livePos =
          if (dirty.isEmpty) cleanPos
          else cleanPos.unionByName(
            readFilesWithPos(dirty.map(_.path), target)
              .join(broadcast(dvTombstones(dirty)),
                col("_file") === col("_dv_file") && col("_pos") === col("_dv_pos"),
                "left_anti"))
        val hits = keyMatchJoin(livePos, updates, "left_semi", target)
          .select(col("_file").as("_dv_file"), col("_pos").as("_dv_pos"))
        val dvStage = new Path(dir, s".stage-${UUID.randomUUID().toString.take(8)}")
        // generated columns recompute for the incoming rows — the same
        // Delta UPDATE semantics as upsertOnto (byte-identical results
        // between the light and copy-on-write paths is the contract)
        val (staged, dataStage) =
          stageFiles(resetGenerated(updates, target), target)
        try {
          hits.coalesce(1).write.mode(SaveMode.Overwrite).parquet(dvStage.toString)
          val perFile: Map[String, Long] = spark.read.parquet(dvStage.toString)
            .groupBy("_dv_file").count()
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val sidecar =
            if (perFile.isEmpty) None
            else fs.listStatus(dvStage).toSeq.map(_.getPath)
              .find(_.getName.endsWith(".parquet")).map(_.toString)
          val masked = m.entries.map { e =>
            // basename match — see deleteWhereLight
            val name = e.path.substring(e.path.lastIndexOf('/') + 1)
            (perFile.get(name), sidecar) match {
              case (Some(n), Some(sc)) => e.copy(dvs = e.dvs :+ DvRef(sc, n))
              case _ => e
            }
          }
          commit(masked ++ staged, base, Some(target))
        } finally {
          fs.delete(dvStage, true)
          fs.delete(dataStage, true)
        }
      }
    }
  }

  /** Replace the table's entire contents in ONE commit (full-refresh
    * semantics; prior versions stay time-travelable until vacuum). */
  def replace(df: DataFrame, meta: Map[String, String] = Map.empty): Unit = {
    createIfAbsent()
    withRetry {
      val base = currentVersion
      stageAndCommit(Nil, df, base, currentSchema, meta = meta)
    }
  }

  /** `REPLACE TABLE … AS SELECT` semantics: ONE guarded commit whose
    * manifest references only the new rows AND adopts `target` as the
    * schema — the relational "redefine the table" with history
    * retained (time travel below the replace reads the OLD schema and
    * rows; `restore()` undoes it). The key columns must survive into
    * the new schema: they are the physical identity (bucketing,
    * pruning), and changing them is [[rebucketTo]] territory, not a
    * replace. Unlike [[appendEvolving]]'s widen, a replace may also
    * NARROW or re-introduce columns — sound because the new manifest
    * references no pre-replace file (a re-introduced name can never
    * read stale pre-drop values). Active CHECK constraints carry into
    * the redefined table (they are governance, not data); one that
    * references a column the new schema DROPS is refused with the
    * `dropCheckConstraint` remedy, exactly like [[dropColumns]] —
    * otherwise every later write would fail resolving it.
    *
    * @return the committed version (the staged-catalog abort path
    *   needs to know whether the head is still ITS commit before
    *   restoring — rolling back someone else's commit would be data
    *   loss). */
  def replaceRedefining(df: DataFrame, target0: StructType): Long = {
    // a renamed column surviving into the REPLACE schema keeps its
    // mapping metadata (carried from the current schema by declared
    // name): the key columns' physical binding must outlive the
    // redefinition, and non-key renames stay consistent with any
    // files a concurrent reader still holds
    val curFields = currentSchema.fields
    val target = StructType(target0.fields.map { f =>
      curFields.find(c => c.name.equalsIgnoreCase(f.name) &&
          physicalFieldName(c) != c.name) match {
        case Some(c) if !f.metadata.contains(TxTable.PhysicalNameKey) =>
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(TxTable.PhysicalNameKey, physicalFieldName(c)).build())
        case _ => f
      }
    })
    val lk = logicalKeyNames(currentSchema)
    lk.foreach(k => require(
      target.fieldNames.exists(_.equalsIgnoreCase(k)),
      s"REPLACE schema must keep key column '$k' (physical identity; " +
        "changing keys needs rebucketTo)"))
    checkConstraints.foreach { case (cn, pred) =>
      checkPredicateRefs(pred).foreach(r => require(
        target.fieldNames.exists(_.equalsIgnoreCase(r)),
        s"CHECK $cn references column '$r', absent from the REPLACE " +
          "schema - dropCheckConstraint first"))
    }
    generatedFields(target).foreach { g =>
      checkPredicateRefs(g.metadata.getString(TxTable.GeneratedExprKey))
        .foreach(r => require(
          target.fieldNames.exists(_.equalsIgnoreCase(r)),
          s"generated column '${g.name}' is computed from '$r', absent " +
            "from the REPLACE schema - drop the generated column too"))
      // the constructor invariants hold for REPLACE-adopted schemas
      // too: a generated key would mis-bucket every later upsert
      require(!keys.exists(_.equalsIgnoreCase(g.name)),
        s"generated column '${g.name}' cannot be a key column")
      require(!g.metadata.contains(TxTable.IdentityStartKey),
        s"column '${g.name}' cannot be both IDENTITY and GENERATED")
    }
    TxTable.validateGeneratedExprs(spark, target)
    createIfAbsent()
    withRetry {
      val base = currentVersion
      stageAndCommit(Nil, conform(df, target), base, target)
    }
  }

  /** Column names a CHECK predicate references (unresolved-attribute
    * walk) — shared by [[dropColumns]]' and [[replaceRedefining]]'s
    * narrowing guards. */
  private def checkPredicateRefs(pred: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(pred)
      .collect { case a: org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute => a.name }

  /** GUARDED [[append]] — see [[upsertIf]]: `pre` sees the snapshot at
    * each attempt's claimed base; a now-false precondition abandons
    * the append (returns false) instead of double-applying it. This is
    * how a streaming sink makes a REPLAYED micro-batch converge: the
    * precondition checks the per-stream batch watermark this append
    * was computed against, committed atomically with the data via
    * `meta`. */
  def appendIf(df: DataFrame, meta: Map[String, String])
      (pre: TxTable.Snapshot => Boolean): Boolean =
    appendIfCounted(df, meta)(pre).isDefined

  /** [[appendIf]] that also reports WHERE AND HOW MUCH landed —
    * `Some((committedVersion, stagedRowCount))` on commit, `None`
    * when the precondition abandoned the append. The version is the
    * one THIS append committed (from the commit itself, never a
    * re-read of `currentVersion` — a concurrent writer could advance
    * the head in between and misattribute the load). The count comes
    * from the staged files' footer stats (already read once for zone
    * maps), so callers that need it (COPY INTO's ingest report)
    * never pay a second read of the source — at 100 TB ingest a
    * pre-`count()` would double the source I/O, and could even
    * disagree with the staged bytes if a source file is replaced
    * mid-run. */
  def appendIfCounted(df: DataFrame, meta: Map[String, String])
      (pre: TxTable.Snapshot => Boolean): Option[(Long, Long)] =
    appendIfMetaOf(df, _ => meta)(pre).map(r => (r._2, r._3))

  /** Core of EVERY append that isn't the plain fast path: stages
    * once, evaluates `pre` at each claimed base, derives the commit
    * meta from the staged entries' footer stats (identity high-water
    * marks need the staged max id; COPY INTO's row report needs the
    * staged row count) — and, on tables with IDENTITY columns, folds
    * the id allocation in: values generate from the claimed mark
    * BEFORE staging, the new mark (from staged stats) commits
    * atomically with the data, and a mark made stale by a concurrent
    * append triggers an internal re-stage with fresh ids (the
    * caller's own `pre` failing still aborts with None — a stale
    * mark is retryable, a failed application precondition is not).
    * Returns (staged entries, committed version). */
  private def appendIfMetaOf(df: DataFrame,
      metaOf: Seq[FEntry] => Map[String, String])
      (pre: TxTable.Snapshot => Boolean): Option[(Seq[FEntry], Long, Long)] = {
    createIfAbsent()
    // stale-mark retries run on the commit TIME budget, as withRetry's
    // do: each retry re-stages, so under an append storm a writer can
    // lose many rounds while its competitors land, and an attempt
    // count would fail it while the storm is still draining
    val deadline = System.currentTimeMillis() + math.max(0L, commitBudgetMs)
    var attempt = 0
    while (attempt == 0 || System.currentTimeMillis() < deadline) {
      attempt += 1
      val ids = identityFields(currentSchema)
      val claims = ids.map(f => f -> identityNext(f))
      val toStage =
        if (claims.isEmpty) df
        else claims.foldLeft(conform(df, currentSchema)) {
          case (d, (f, n)) => d.withColumn(f.name, identityValue(f, n))
        }
      val (staged, stage) = stageFiles(toStage, currentSchema)
      // row count BEFORE the commit: the stats-less fallback reads the
      // staged file, which commit() renames to a fresh UUID in data/
      // and the finally deletes the stage dir - counting after would
      // throw on a path that no longer exists (misreporting a landed
      // load as failed)
      val stagedRows = stagedRowCount(staged)
      var markStale = false
      val res = try withRetry {
        val base = currentVersion
        val m = loadManifest(base)
        val snap = snapshotAt(base)
        if (!pre(snap)) None
        else if (!claims.forall { case (f, n) =>
          snap.meta(identityMetaKey(f)).map(_.toLong)
            .getOrElse(f.metadata.getLong(TxTable.IdentityStartKey)) == n
        }) {
          markStale = true; None
        } else {
          val v = commit(m.entries ++ staged, base,
            meta = metaOf(staged) ++ claims.map { case (f, n) =>
              identityMetaKey(f) -> identityAdvance(f, n, staged).toString
            })
          Some((staged, v, stagedRows))
        }
      } finally fs.delete(stage, true)
      if (res.isDefined) { maybeAutoCompact(); return res }
      if (!markStale) return None
    }
    sys.error(s"identity append lost the high-water-mark CAS $attempt " +
      s"times in $commitBudgetMs ms on $dir - an append storm; re-run")
  }

  /** Exact row count of just-staged entries from their footer stats;
    * the rare stats-less entry (footer read failed at stage time)
    * falls back to one bounded re-read of THAT file only. */
  private def stagedRowCount(staged: Seq[FEntry]): Long = {
    val phys = physicalize(currentSchema)
    staged.iterator.map { e =>
      e.parsedStats(phys).map(_.rows).getOrElse(
        spark.read.parquet(e.path).count())
    }.sum
  }

  /** GUARDED [[appendEvolving]] — the evolving twin of [[appendIf]]:
    * the streaming sink's schema-drift mode (`graft.evolve`) lands
    * epochs whose batches may carry NEW columns, widening the table
    * schema in the same atomic commit as the data + epoch watermark.
    * The resurrection guard inside [[widen]] still applies per
    * attempt. */
  def appendEvolvingIf(df: DataFrame, meta: Map[String, String])
      (pre: TxTable.Snapshot => Boolean): Boolean = {
    createIfAbsent()
    // the evolving path widens the schema INSIDE its commit loop, so
    // identity allocation (which must pin the generated frame to a
    // mark BEFORE staging) cannot ride it; refuse rather than land
    // null ids silently. The fixed-schema sink mode allocates fine.
    require(identityFields(currentSchema).isEmpty,
      s"schema-evolving appends into $dir are not supported with " +
        "IDENTITY columns - use the fixed-schema append/sink path")
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      if (!pre(snapshotAt(base))) false
      else {
        val target = widen(schemaAt(m), df.schema)
        stageAndCommit(m.entries, conform(df, target), base, target,
          meta = meta)
        true
      }
    }
  }

  /** GUARDED [[upsertEvolving]] — see [[appendEvolvingIf]]. */
  def upsertEvolvingIf(df: DataFrame, meta: Map[String, String])
      (pre: TxTable.Snapshot => Boolean): Boolean = {
    createIfAbsent()
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      if (!pre(snapshotAt(base))) false
      else {
        val target = widen(schemaAt(m), df.schema)
        upsertOnto(m, conform(df, target), base, target, meta)
        true
      }
    }
  }

  /** GUARDED [[upsert]]: a compare-and-set against table state. Each
    * commit attempt reads its base version FIRST and hands `pre` a
    * [[TxTable.Snapshot]] pinned at that base; only if `pre` holds is
    * base + 1 claimed. The exclusive-create claim thus SERIALIZES
    * validation with publication: a competing commit landing after the
    * base read fails this writer's claim, the retry re-reads the new
    * base and re-evaluates `pre` against it, and a now-false
    * precondition abandons the mutation (returns false) instead of
    * double-applying it. (Evaluating `pre` against floating head state
    * instead would re-open the window: a commit landing between the
    * check and the base read hands this writer a clean claim at the
    * NEW head and the stale delta applies twice.) This is how an
    * incremental view makes `refresh` idempotent under CONCURRENT
    * refreshers: the precondition checks the applied-watermark at the
    * claimed base is still the one the delta was computed against. */
  def upsertIf(df: DataFrame, meta: Map[String, String])
      (pre: TxTable.Snapshot => Boolean): Boolean = {
    createIfAbsent()
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      if (!pre(snapshotAt(base))) false
      else {
        val target = schemaAt(m)
        val updates = df
          .select(target.fields.map(fl => col(fl.name).cast(fl.dataType)): _*)
        upsertOnto(m, updates, base, target, meta)
        true
      }
    }
  }

  /** GUARDED [[replace]] — see [[upsertIf]]. */
  def replaceIf(df: DataFrame, meta: Map[String, String])
      (pre: TxTable.Snapshot => Boolean): Boolean = {
    createIfAbsent()
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      if (!pre(snapshotAt(base))) false
      else {
        stageAndCommit(Nil, df, base, schemaAt(m), meta = meta)
        true
      }
    }
  }

  /** MERGE in one commit: upsert `upserts` AND delete `deleteKeys`
    * (a keys-shaped DataFrame) atomically — the WHEN MATCHED UPDATE /
    * WHEN MATCHED DELETE composite a CDC apply needs. A key in both
    * inputs upserts (the post-image wins). Only buckets containing
    * touched keys are rewritten; `meta` rides the single commit.
    * Fully distributed: no key list ever reaches the driver (bucket
    * ids do — bounded by `numBuckets`). */
  def applyChanges(upserts: DataFrame, deleteKeys: DataFrame,
      meta: Map[String, String] = Map.empty): Unit = {
    applyChangesIf(upserts, deleteKeys, meta)(_ => true)
    ()
  }

  /** GUARDED [[applyChanges]] — see [[upsertIf]] for the CAS contract.
    * How a CDC consumer (replication) makes concurrent syncs safe:
    * each attempt re-checks its watermark against the snapshot at the
    * claimed base, so a stale diff is abandoned instead of re-applied
    * on top of a newer sync. */
  def applyChangesIf(upserts: DataFrame, deleteKeys: DataFrame,
      meta: Map[String, String])(pre: TxTable.Snapshot => Boolean): Boolean = {
    createIfAbsent()
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      if (!pre(snapshotAt(base))) false
      else {
        val target = schemaAt(m)
        val lk = logicalKeyNames(target)
        val ups = upserts
          .select(target.fields.map(fl => col(fl.name).cast(fl.dataType)): _*)
          .dropDuplicates(lk)
        val dels = keyMatchJoin(deleteKeys
          .select(lk.map(k => col(k).cast(target(k).dataType)): _*)
          .dropDuplicates(lk), ups, "left_anti", target) // upsert wins
        val gone = ups.select(lk.map(col): _*).unionByName(dels)
        val touched = gone.select(bucketExprFor(target).as("_kb")).distinct()
          .collect().map(_.getInt(0)).toSet
        if (touched.nonEmpty) {
          val (hit, kept) = m.entries.partition(e => touched(e.bucket))
          val remain = keyMatchJoin(readEntries(hit, target), gone,
            "left_anti", target)
            .unionByName(resetGenerated(ups, target))
          stageAndCommit(kept, remain, base, target,
            meta = meta, verifyGenerated = false)
        } else if (meta.nonEmpty) {
          commit(m.entries, base, Some(target), meta)
        }
        true
      }
    }
  }

  /** Shared MERGE body: dedup updates, rewrite only touched buckets,
    * re-link the rest. Runs inside a [[withRetry]] attempt. */
  private def upsertOnto(
      m: Manifest, updates0: DataFrame, base: Long, target: StructType,
      meta: Map[String, String] = Map.empty): Unit = {
    val updates = updates0.dropDuplicates(logicalKeyNames(target))
    val touched = updates.select(bucketExprFor(target).as("_kb")).distinct()
      .collect().map(_.getInt(0)).toSet
    if (touched.nonEmpty) {
      val (hit, kept) = m.entries.partition(e => touched(e.bucket))
      val existing = readEntries(hit, target)
      // generated columns: the incoming UPDATES recompute (their
      // stored values predate this write — Delta's UPDATE semantics);
      // re-staged untouched rows keep their stored values verbatim
      // (verifyGenerated = false: they passed admission once, and a
      // session-dependent expression must not rewrite them)
      val merged = keyMatchJoin(existing, updates, "left_anti", target)
        .unionByName(resetGenerated(updates, target))
      stageAndCommit(kept, merged, base, target,
        meta = meta, verifyGenerated = false)
    } else if (meta.nonEmpty) {
      // nothing to merge but the watermark must still land (e.g. a
      // refresh whose feed nets out to zero row changes)
      commit(m.entries, base, Some(target), meta)
    }
  }

  /** S16 — delete matching rows; rewrites only buckets with matches. */
  def deleteWhere(cond: Column): Unit = {
    if (currentVersion < 0) return
    val hitCond = coalesce(cond, lit(false))
    withRetry {
      val base = currentVersion
      val cur = loadManifest(base).entries
      // zone-map pruning FIRST: only files that may hold a matching row
      // are even read to discover touched buckets (a delete by event
      // time on a time-clustered table scans just that time range).
      // Pruning sees the RAW cond, not the coalesce wrapper (same row
      // semantics — a null condition deletes nothing, and zone-map
      // comparisons already treat nulls as non-matching)
      val s = currentSchema
      val candidates = pruneEntries(cur, cond, s)
      val touched = readEntries(candidates, s).filter(hitCond)
        .select(bucketExprFor(s).as("_kb"))
        .distinct().collect().map(_.getInt(0)).toSet
      if (touched.nonEmpty) {
        val (hit, kept) = cur.partition(e => touched(e.bucket))
        val remain = readEntries(hit, s).filter(!hitCond)
        stageAndCommit(kept, remain, base, s, verifyGenerated = false)
      }
    }
  }

  /** MERGE-ON-READ delete (deletion vectors): instead of rewriting
    * every file of every touched bucket (the [[deleteWhere]]
    * copy-on-write path), write ONE tiny sidecar of (file, row
    * position) tombstones and re-link every data file untouched. A
    * 1-row delete on a 100 TB table writes kilobytes; the read path
    * masks tombstoned rows with a broadcast anti-join that only files
    * carrying DVs pay (see [[readEntries]]). Reads get slightly more
    * expensive per accumulated DV — [[materializeDeletes]] (or any
    * bucket rewrite: upsert, compact) folds them back in.
    *
    * Matching positions are computed over the LIVE rows (existing DVs
    * applied), so re-deleting an already-tombstoned row is a no-op and
    * per-file tombstone counts stay exact — `count()` remains
    * metadata-only. Zone maps prune the position scan the same way
    * they prune [[scanWhere]]. */
  def deleteWhereLight(cond: Column): Unit = {
    if (currentVersion < 0) return
    val hitCond = coalesce(cond, lit(false))
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      val s = schemaAt(m)
      val candidates = pruneEntries(m.entries, cond, s)
      if (candidates.nonEmpty) {
        // live matching rows → (file, pos) tombstones. The per-file
        // counts come back to the driver (bounded by the candidate
        // file count, same order as the manifest itself).
        val (dirty, clean) = candidates.partition(_.dvs.nonEmpty)
        val cleanHits = readFilesWithPos(clean.map(_.path), s)
        val dirtyHits =
          if (dirty.isEmpty) None
          else Some(readFilesWithPos(dirty.map(_.path), s)
            .join(broadcast(dvTombstones(dirty)),
              col("_file") === col("_dv_file") && col("_pos") === col("_dv_pos"),
              "left_anti"))
        val hits = dirtyHits.fold(cleanHits)(cleanHits.unionByName(_))
          .filter(hitCond)
          .select(col("_file").as("_dv_file"), col("_pos").as("_dv_pos"))
        val stage = new Path(dir, s".stage-${UUID.randomUUID().toString.take(8)}")
        try {
          hits.coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage.toString)
          val perFile: Map[String, Long] = spark.read.parquet(stage.toString)
            .groupBy("_dv_file").count()
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          if (perFile.nonEmpty) {
            val sidecar = fs.listStatus(stage).toSeq
              .map(_.getPath)
              .filter(p => p.getName.endsWith(".parquet"))
              .head.toString
            val newEntries = m.entries.map { e =>
              // basename match: tombstones store basenames, and a
              // shallow clone's foreign entries keep absolute paths
              val name = e.path.substring(e.path.lastIndexOf('/') + 1)
              perFile.get(name) match {
                case Some(n) => e.copy(dvs = e.dvs :+ DvRef(sidecar, n))
                case None => e
              }
            }
            commit(newEntries, base, Some(s))
          }
        } finally fs.delete(stage, true)
      }
    }
  }

  /** ROW-LEVEL DELTA COMMIT — the sink for SQL `UPDATE` / `MERGE INTO`
    * / subquery `DELETE` through the DSv2 provider
    * ([[graft.sources.GraftRowLevelOperation]]): apply row tombstones
    * (`_dv_file` basename, `_dv_pos` physical position — computed by
    * the provider's scan over LIVE rows, so they are exact and
    * disjoint from existing tombstones) and insert rows in ONE
    * manifest version. Deletes ride a deletion-vector sidecar (zero
    * data-file rewrites); inserts stage through the normal admission
    * path (CHECK constraints, key bucketing, bloom layout).
    *
    * Serializability is honest, not optimistic: the delta was computed
    * against the snapshot at `scannedVersion`, so if ANY other commit
    * landed since (base moved, or the CAS loses), this throws instead
    * of replaying a delta whose row positions may no longer mean the
    * same rows. The caller re-runs the statement against the new
    * snapshot — the same contract Delta Lake/Iceberg give concurrent
    * row-level writers. */
  private[graft] def applyRowDelta(dvRows: Option[DataFrame],
      inserts: Option[DataFrame], scannedVersion: Long): Unit = {
    if (dvRows.isEmpty && inserts.isEmpty) return
    def staleSnapshot(base: Long): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"row-level operation on $dir was planned against " +
          s"v$scannedVersion but the table moved to v$base before the " +
          "commit - the computed row delta is only valid against the " +
          "scanned snapshot; re-run the statement")
    val base = currentVersion
    if (base != scannedVersion) staleSnapshot(base)
    val m = loadManifest(base)
    val s = schemaAt(m)
    // MERGE insert rows into an IDENTITY table: brand-new rows (null
    // id) take generated values; UPDATE post-images carry their
    // existing ids untouched (coalesce — the engine round-tripped
    // that identity itself, so the ALWAYS refusal does not apply
    // here). The mark advance rides the same commit, and the
    // scannedVersion pin IS the CAS: any concurrent commit fails
    // this whole delta before a stale mark could allocate.
    val idClaims = identityFields(s).map(f => f -> identityNext(f))
    // generated columns RECOMPUTE for the whole delta: UPDATE
    // post-images arrive here carrying their pre-update generated
    // values (Spark's rewrite copies unassigned columns), which must
    // refresh when a referenced base column changed — same engine-
    // round-tripped reasoning as the identity coalesce below
    val ins = inserts.map { df0 =>
      val df = resetGenerated(df0, s)
      if (idClaims.isEmpty) df
      else idClaims.foldLeft(conform(df, s)) { case (d, (f, n)) =>
        d.withColumn(f.name, coalesce(col(f.name), identityGen(f, n)))
      }
    }
    val idMeta: Option[Seq[FEntry] => Map[String, String]] =
      if (idClaims.isEmpty || ins.isEmpty) None
      else Some(staged => idClaims.map { case (f, n) =>
        identityMetaKey(f) -> identityAdvance(f, n, staged).toString
      }.toMap)
    try {
      dvRows match {
        case None =>
          ins.foreach(df =>
            stageAndCommit(m.entries, df, base, s, metaOf = idMeta,
              verifyGenerated = false))
        case Some(dv) =>
          val stage =
            new Path(dir, s".stage-${UUID.randomUUID().toString.take(8)}")
          try {
            dv.select(col("_dv_file"), col("_dv_pos")).distinct()
              .coalesce(1).write.mode(SaveMode.Overwrite)
              .parquet(stage.toString)
            // per-file tombstone counts back to the driver — bounded
            // by the touched-file count, same as deleteWhereLight
            val perFile: Map[String, Long] = spark.read
              .parquet(stage.toString)
              .groupBy("_dv_file").count()
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            if (perFile.isEmpty) {
              ins.foreach(df =>
                stageAndCommit(m.entries, df, base, s, metaOf = idMeta,
                  verifyGenerated = false))
            } else {
              val sidecar = fs.listStatus(stage).toSeq.map(_.getPath)
                .filter(_.getName.endsWith(".parquet")).head.toString
              val baseNames = m.entries
                .map(e => e.path.substring(e.path.lastIndexOf('/') + 1))
              val unknown = perFile.keySet -- baseNames.toSet
              require(unknown.isEmpty,
                s"row delta tombstones reference ${unknown.size} file(s) " +
                  s"not live at v$base of $dir: ${unknown.take(3).mkString(", ")}")
              val newEntries = m.entries.map { e =>
                val name = e.path.substring(e.path.lastIndexOf('/') + 1)
                perFile.get(name) match {
                  case Some(n) => e.copy(dvs = e.dvs :+ DvRef(sidecar, n))
                  case None => e
                }
              }
              ins match {
                case Some(df) =>
                  stageAndCommit(newEntries, df, base, s,
                    metaOf = idMeta, verifyGenerated = false)
                case None => commit(newEntries, base, Some(s)); ()
              }
            }
          } finally fs.delete(stage, true)
      }
    } catch {
      // a lost CAS is the same staleness, reported the same way
      case _: TxTable.CommitConflict => staleSnapshot(currentVersion)
    }
  }

  /** Fold accumulated deletion vectors back into data: rewrite ONLY the
    * buckets holding DV-carrying files (their live rows restage, DVs
    * drop); clean buckets re-link untouched. Run when read-side DV
    * masking has grown past its worth — the REORG PURGE analog.
    *
    * `minDeadFraction` targets the maintenance: only buckets whose
    * tombstoned-row share exceeds it rewrite (0.0 = every dirty
    * bucket). Dead fractions come from manifest metadata alone
    * (footer row counts vs DV counts — no data I/O to decide), so a
    * scheduled `materializeDeletes(0.3)` is a cheap idempotent
    * background job: lightly-masked buckets keep their cheap reads,
    * heavily-masked ones stop paying the mask. */
  def materializeDeletes(minDeadFraction: Double = 0.0): Unit = {
    if (currentVersion < 0) return
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      val s = schemaAt(m)
      val dirtyBuckets = m.entries.groupBy(_.bucket).collect {
        case (b, es) if es.exists(_.dvs.nonEmpty) &&
            (minDeadFraction <= 0.0 || {
              val dead = es.flatMap(_.dvs).map(_.rows).sum.toDouble
              val total = es.flatMap(_.parsedStats(s).map(_.rows))
                .filter(_ >= 0).sum.toDouble
              total <= 0.0 || dead / total > minDeadFraction
            }) => b
      }.toSet
      if (dirtyBuckets.nonEmpty) {
        val (hit, kept) = m.entries.partition(e => dirtyBuckets(e.bucket))
        // DV'd rows were already invisible to readers: folding them is
        // layout-only from the live row set's perspective
        stageAndCommit(kept, readEntries(hit, s), base, s,
          meta = Map("layout_only" -> "true"), verifyGenerated = false)
      }
    }
  }

  /** S17 — truncate: an empty manifest; prior versions stay readable
    * until vacuumed. */
  def truncate(): Unit = {
    createIfAbsent()
    withRetry(commit(Nil, currentVersion))
  }

  /** RESTORE: roll the table back to retained version `v` by
    * committing v's file list as a NEW version — history moves only
    * forward (the rolled-back states stay time-travelable until
    * vacuum), and the restored files are re-referenced, so vacuum
    * keeps protecting them. O(manifest) metadata, zero data I/O. */
  def restore(v: Long): Unit = {
    require(versions.contains(v), s"version $v is not retained")
    withRetry {
      val base = currentVersion
      val m = loadManifest(v)
      commit(m.entries, base, Some(schemaAt(m)),
        Map("restored_from" -> v.toString))
    }
  }

  /** GUARDED [[restore]] — rolls back ONLY while the head is still
    * `expectedHead`: a concurrent commit landing first makes this a
    * no-op (returns false) instead of being rebased past and silently
    * unwound. The staged-catalog RTAS abort uses it to undo exactly
    * its own replace commit, never a racing writer's. */
  def restoreIfHead(expectedHead: Long, v: Long): Boolean = {
    require(versions.contains(v), s"version $v is not retained")
    withRetry {
      val base = currentVersion
      if (base != expectedHead) false
      else {
        val m = loadManifest(v)
        commit(m.entries, base, Some(schemaAt(m)),
          Map("restored_from" -> v.toString))
        true
      }
    }
  }

  /** Rewrite the current version into one file per bucket (small-file
    * compaction; old version remains for time travel). */
  def compact(): Unit = {
    createIfAbsent()
    withRetry {
      val base = currentVersion
      // layout_only: the live ROW SET is unchanged — streaming tail
      // readers (graft.sources.GraftMicroBatchStream) skip this commit
      // instead of failing on its remove/re-add file churn
      stageAndCommit(Nil, readVersion(base), base, currentSchema,
        meta = Map("layout_only" -> "true"), verifyGenerated = false)
    }
  }

  /** SELECTIVE small-file compaction: only buckets holding at least
    * `minFiles` data files rewrite (their live rows restage into one
    * file each, outstanding DVs folding in); every other bucket
    * RE-LINKS untouched. Returns how many buckets rewrote (0 = the
    * whole call was a metadata no-op, no commit). This is the
    * auto-maintenance primitive: on a 100 TB table where continuous
    * ingest fragments a few hot buckets, the full [[compact]] would
    * rewrite every clean bucket too — here the write amplification is
    * bounded by the fragmented buckets alone. */
  def compactBuckets(minFiles: Int): Int = {
    require(minFiles >= 2, s"minFiles must be >= 2, got $minFiles")
    if (currentVersion < 0) return 0
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      val fragmented = m.entries.groupBy(_.bucket)
        .filter { case (_, es) =>
          es.length >= minFiles || (es.length > 1 && es.exists(_.dvs.nonEmpty))
        }.keySet
      if (fragmented.isEmpty) 0
      else {
        val (rewrite, keep) = m.entries.partition(e => fragmented(e.bucket))
        val df = readEntries(rewrite, schemaAt(m))
        // layout_only: the live row set is unchanged — streaming tail
        // readers skip this commit (same contract as compact())
        stageAndCommit(keep, df, base, schemaAt(m),
          meta = Map("layout_only" -> "true"), verifyGenerated = false)
        fragmented.size
      }
    }
  }

  /** [[compactBuckets]] that RE-CLUSTERS what it rewrites: fragmented
    * buckets (>= `minFiles` files, or multi-file with DVs) range-split
    * by `clusterBy` into ~`filesPerBucket` sorted files each; clean
    * buckets re-link untouched. This is the maintenance primitive
    * continuous ingest needs at scale — a full-table
    * [[compactClustered]] is a 100 TB rewrite, while this pays only
    * for the buckets the recent appends actually fragmented, and
    * zone-map pruning on the cluster key stays tight forever.
    *
    * `minFiles` must exceed `filesPerBucket`: a freshly clustered
    * bucket HOLDS `filesPerBucket` files, so a threshold at or below
    * that would re-trip on every subsequent append (unbounded write
    * amplification). The gap is the hysteresis — a bucket re-clusters
    * only after `minFiles - filesPerBucket` more appends land in it. */
  def compactBucketsClustered(minFiles: Int, clusterBy: Seq[String],
      filesPerBucket: Int = 4): Int = {
    require(clusterBy.nonEmpty, "compactBucketsClustered needs columns")
    require(minFiles > filesPerBucket,
      s"minFiles ($minFiles) must exceed filesPerBucket " +
        s"($filesPerBucket) - equal or lower re-trips on every append")
    if (currentVersion < 0) return 0
    withRetry {
      val base = currentVersion
      val m = loadManifest(base)
      val fragmented = m.entries.groupBy(_.bucket)
        .filter { case (_, es) =>
          es.length >= minFiles || (es.length > 1 && es.exists(_.dvs.nonEmpty))
        }.keySet
      if (fragmented.isEmpty) 0
      else {
        val (rewrite, keep) = m.entries.partition(e => fragmented(e.bucket))
        val df = readEntries(rewrite, schemaAt(m))
        stageAndCommit(keep, df, base, schemaAt(m),
          Some(struct(clusterBy.map(col): _*)), filesPerBucket,
          meta = Map("layout_only" -> "true"),
          layoutPartitions = Some(fragmented.size * filesPerBucket),
          verifyGenerated = false)
        fragmented.size
      }
    }
  }

  /** Compaction + CLUSTERING: rewrite the current version so each
    * bucket's rows are range-split across `filesPerBucket` files by
    * `clusterBy` (plus sorted within files). After this, zone maps give
    * ~`filesPerBucket`-way pruning on the cluster key inside EVERY
    * bucket. Lexicographic: tight bounds on the LEADING key only — use
    * [[compactZOrdered]] for multi-dimensional locality. Old version
    * remains for time travel. */
  def compactClustered(clusterBy: Seq[String], filesPerBucket: Int = 8): Unit = {
    require(clusterBy.nonEmpty, "compactClustered requires cluster columns")
    createIfAbsent()
    withRetry {
      val base = currentVersion
      stageAndCommit(Nil, readVersion(base), base, currentSchema,
        Some(struct(clusterBy.map(col): _*)), filesPerBucket,
        meta = Map("layout_only" -> "true"), verifyGenerated = false)
    }
  }

  /** [[compactClustered]] along a Z-ORDER (Morton) curve over several
    * numeric/date/timestamp columns: files get tight zone maps on ALL
    * the listed dimensions, where lexicographic clustering is tight
    * only on the leading one (OPTIMIZE ZORDER BY). Column ranges come
    * from one driver-side min/max agg over the current version. */
  def compactZOrdered(cols: Seq[String], filesPerBucket: Int = 8,
      bitsPerCol: Int = 8): Unit = {
    require(cols.nonEmpty, "compactZOrdered requires columns")
    createIfAbsent()
    withRetry {
      val base = currentVersion
      val snap = readVersion(base)
      val s = currentSchema
      // DateType has no legal direct cast to double — route through
      // timestamp (epoch seconds: order-preserving, which is all the
      // z-value needs)
      def numView(c: String): Column = s(c).dataType match {
        case _: org.apache.spark.sql.types.DateType =>
          col(c).cast("timestamp").cast("double")
        case _ => col(c).cast("double")
      }
      val bounds = snap.select(cols.flatMap(c =>
        Seq(min(numView(c)), max(numView(c)))): _*).head()
      if (bounds.anyNull) // empty table or all-null dims: plain compact
        stageAndCommit(Nil, snap, base, s,
          meta = Map("layout_only" -> "true"), verifyGenerated = false)
      else {
        val mins = cols.indices.map(i => bounds.getDouble(2 * i))
        val maxs = cols.indices.map(i => bounds.getDouble(2 * i + 1))
        stageAndCommit(Nil, snap, base, s,
          Some(ZOrder.zvalue(cols.map(numView), mins, maxs, bitsPerCol)),
          filesPerBucket, meta = Map("layout_only" -> "true"),
          verifyGenerated = false)
      }
    }
  }

  /** ZERO-COPY shallow clone: a new table at `dstDir` whose first
    * manifest references THIS table's current data files (and DV
    * sidecars) by absolute path — no data is read or copied, the clone
    * commit is O(manifest). The clone is fully writable: its mutations
    * stage into its OWN data/, rewriting (copy-on-write) or masking
    * (DVs) foreign files without ever touching the source; source
    * writes after the clone are invisible to it (it pinned a file
    * list). The standard shallow-clone caveat applies: the SOURCE's
    * vacuum does not know about clone references, so keep clones
    * inside the source's retention window or run `clone.compact()`
    * (which rewrites every bucket into the clone's own files) to cut
    * the dependency. Dev/test branching at 100 TB for the price of a
    * metadata write. */
  def shallowCloneTo(dstDir: String): TxTable = {
    val srcV = currentVersion
    require(srcV >= 0, "cannot clone a table that was never created")
    val m = loadManifest(srcV)
    val s = schemaAt(m)
    val clone = new TxTable(spark, dstDir, s, keys, numBuckets,
      commitBudgetMs, claimStalenessMs, bloomCols, bucketHash, fieldIds)
    require(!clone.exists, s"clone target $dstDir already exists")
    val f = fs
    def abs(p: String) = f.makeQualified(new Path(p)).toString
    val absEntries = m.entries.map(e => clone.FEntry(e.bucket, abs(e.path),
      e.stats, e.dvs.map(d => clone.DvRef(abs(d.path), d.rows))))
    clone.commit(absEntries, -1L, Some(s),
      Map("cloned_from" -> s"${abs(dir)}@$srcV"))
    clone
  }

  // ---- named refs (TAGS) and BRANCHES / write-audit-publish ----

  private def refsDir: String = s"$dir/_refs"
  private def tagFile(name: String): Path = new Path(refsDir, s"tag-$name.json")
  private def branchesDir: String = s"$dir/_branches"

  private def requireRefName(name: String): Unit =
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"ref name must be [A-Za-z0-9._-]+ (no separators), got '$name'")

  /** TAG a retained version with an immutable name. Tags are
    * RETENTION PINS: [[vacuum]] keeps a tagged manifest and its files
    * alive past `keepVersions`, so `VERSION AS OF '<tag>'` stays
    * readable for as long as the tag exists. Create-only — re-tagging
    * a name is refused (drop it first); the create-if-absent write IS
    * the race arbiter between concurrent taggers. */
  def createTag(name: String, version: Long): Unit = {
    requireRefName(name)
    require(versions.contains(version),
      s"version $version of $dir is not retained (cannot tag)")
    fs.mkdirs(new Path(refsDir))
    val out =
      try fs.create(tagFile(name), false)
      catch { case _: java.io.IOException => throw
        new IllegalArgumentException(s"tag '$name' already exists - " +
          "tags are immutable; dropTag first") }
    try out.write(s"""{"version":$version}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** [[createTag]] at the current head. */
  def createTag(name: String): Unit = createTag(name, currentVersion)

  def dropTag(name: String): Unit = {
    requireRefName(name)
    require(fs.delete(tagFile(name), false), s"no such tag '$name'")
  }

  /** All tags (name → version) — one listing of `_refs/`. */
  def tags: Map[String, Long] = {
    val d = new Path(refsDir)
    if (!fs.exists(d)) Map.empty
    else fs.listStatus(d).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (!n.startsWith("tag-") || !n.endsWith(".json")) None
      else scala.util.Try {
        val in = fs.open(st.getPath)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        n.stripPrefix("tag-").stripSuffix(".json") ->
          "\"version\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt).get
            .group(1).toLong
      }.toOption
    }.toMap
  }

  /** Resolve a ref name to a version — `VERSION AS OF '<tag>'`. */
  def resolveRef(name: String): Long =
    tags.getOrElse(name, throw new IllegalArgumentException(
      s"no such ref '$name' on $dir (tags: ${tags.keys.toSeq.sorted
        .mkString(", ")})"))

  /** Fork a BRANCH: a zero-copy shallow clone into
    * `<dir>/_branches/<name>` — O(manifest), inside the table
    * directory so it shares the table's storage lifecycle. Writes go
    * to the branch through the full TxTable API (CHECK constraints
    * carry over with the clone); readers on the MAIN table never see
    * them. The write-audit-publish flow: write to the branch, audit
    * it ([[publishBranch]] re-runs every CHECK pre-flip), publish —
    * or [[dropBranch]] to abort with main untouched. */
  def createBranch(name: String): TxTable = {
    requireRefName(name)
    require(currentVersion >= 0, "cannot branch a never-created table")
    shallowCloneTo(s"$branchesDir/$name")
  }

  /** Open an existing branch. */
  def branch(name: String): TxTable = {
    requireRefName(name)
    val d = s"$branchesDir/$name"
    require(fs.exists(new Path(d)), s"no such branch '$name' on $dir")
    new TxTable(spark, d, schema, keys, numBuckets, commitBudgetMs,
      claimStalenessMs, bloomCols, bucketHash, fieldIds)
  }

  def branches: Seq[String] = {
    val d = new Path(branchesDir)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
  }

  /** PUBLISH a branch: one CAS-guarded commit on MAIN whose file set
    * is the branch's head (files the branch inherited at fork are
    * already main's own; files the branch wrote are referenced
    * absolutely under `_branches/<name>/data`, the shallow-clone
    * mechanism in reverse). The WAP contract, enforced:
    *
    *  - AUDIT pre-flip: every active CHECK constraint re-validates
    *    over the branch's full head (one aggregate scan — the "A" in
    *    WAP is exactly this admission cost); a violation refuses the
    *    publish and main is untouched.
    *  - CAS: main's head must still be the branch's fork version —
    *    a concurrent main commit refuses the publish (re-branch and
    *    replay is the remedy), so publish is serializable, never a
    *    silent lost-update merge.
    *  - The published branch is marked `_published`: its data files
    *    are now MAIN's live data, so [[dropBranch]] refuses it until
    *    a main-side rewrite (compact) cuts the references.
    *
    * Returns the version the publish committed on main. */
  def publishBranch(name: String): Long = {
    val b = branch(name)
    val bHead = b.currentVersion
    require(bHead >= 0, s"branch '$name' has no commits")
    val forkMeta = b.metaAsOf(0L, "cloned_from").getOrElse(
      throw new IllegalStateException(
        s"branch '$name' carries no fork marker (not created by " +
          "createBranch?)"))
    val forkV = forkMeta.substring(forkMeta.lastIndexOf('@') + 1).toLong
    val m = b.loadManifest(bHead)
    val bSchema = b.schemaAt(m)
    // AUDIT: the full branch head against every active CHECK — the
    // pre-flip expectation gate
    val checks = checkConstraints.toSeq.sortBy(_._1)
    if (checks.nonEmpty) {
      val aggs = checks.map { case (n, p) =>
        org.apache.spark.sql.functions.count(when(!checkPasses(p), 1)).as(n) }
      val row = b.read.agg(aggs.head, aggs.tail: _*).head
      checks.zipWithIndex.foreach { case ((n, p), i) =>
        require(row.getLong(i) == 0L,
          s"publish of branch '$name' refused: CHECK $n ($p) violated " +
            s"by ${row.getLong(i)} row(s) - fix the branch or drop it")
      }
    }
    val f = fs
    def abs(p: String) = f.makeQualified(new Path(p)).toString
    val absEntries = m.entries.map(e => FEntry(e.bucket, abs(e.path),
      e.stats, e.dvs.map(d => DvRef(abs(d.path), d.rows))))
    // CAS on the fork: commit(base = forkV) wins only if main's head
    // is still the fork version; anything newer conflicts
    require(currentVersion == forkV,
      s"main advanced to v$currentVersion since branch '$name' forked " +
        s"at v$forkV - publish refused (re-branch from the new head " +
        "and replay)")
    val v = commit(absEntries, forkV, Some(bSchema),
      Map("published_from" -> s"$name@$bHead"))
    val marker = f.create(new Path(s"$branchesDir/$name", "_published"), true)
    marker.close()
    v
  }

  /** Abort (or retire) a branch: delete its directory. A PUBLISHED
    * branch refuses — its data files are main's live data; compact
    * main first (rewrites every bucket into main's own files), then
    * drop. */
  def dropBranch(name: String): Unit = {
    requireRefName(name)
    val d = new Path(s"$branchesDir/$name")
    require(fs.exists(d), s"no such branch '$name' on $dir")
    require(!fs.exists(new Path(d, "_published")),
      s"branch '$name' was published - its files are main's live " +
        "data; run compact() on main to cut the references, then drop")
    fs.delete(d, true)
    ()
  }

  /** RELOCATE the table directory — RENAME TABLE's physical half.
    * Own files are manifest-referenced by BARE NAME (resolved against
    * the live dir at read time) and the Delta log is table-relative
    * by construction, so a directory rename is one atomic metadata
    * operation — no manifest rewrite, no data movement, at any size.
    *
    * Refused (never silently broken) when state pins the CURRENT
    * absolute path: a retained manifest entry referencing this dir
    * absolutely (a published branch's files — compact() folds them
    * into bare-name files, then vacuum retires the old manifests),
    * live branches (their clones hold absolute back-references —
    * publish or drop first), or an exported Iceberg metadata tree
    * (absolute URIs per spec — remove `metadata/` and re-export after
    * the move). Shallow clones of THIS table elsewhere keep absolute
    * references to the OLD path — the standard clone caveat, same as
    * vacuum's. Returns the relocated table. */
  def relocateTo(newDir: String): TxTable = {
    val f = fs
    val dst = new Path(newDir)
    require(!f.exists(dst), s"relocate target $newDir already exists")
    require(branches.isEmpty,
      s"$dir has live branches (${branches.mkString(", ")}) whose " +
        "clones reference this path absolutely - publish or drop them " +
        "before relocating")
    require(!f.exists(new Path(dir, "metadata/version-hint.text")),
      s"$dir carries an exported Iceberg metadata tree, whose URIs are " +
        "absolute per spec - remove metadata/ and re-export after the " +
        "relocate")
    val rootUri = f.makeQualified(new Path(dir)).toString.stripSuffix("/")
    // raw manifest scan: a stored path is self-pinning iff it was
    // written ABSOLUTE and resolves under this directory (published
    // branches do this; bare names and foreign refs are fine)
    versions.foreach { v =>
      val in = f.open(manifestPath(v))
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      text.split("\n").filter(l => l.nonEmpty && !l.startsWith("#"))
        .foreach { line =>
          val fields = line.split("\t", 4)
          val raw = fields(1) +:
            (if (fields.length == 4)
              fields(3).split(";").filter(_.nonEmpty)
                .map(r => r.take(r.lastIndexOf(':'))).toSeq
            else Nil)
          raw.foreach { p =>
            val abs = p.startsWith("/") || p.contains(":/")
            if (abs) {
              val q = f.makeQualified(new Path(p)).toString
              require(!q.startsWith(rootUri + "/"),
                s"manifest v$v references $p - an ABSOLUTE path into " +
                  "this directory (published branch files); run " +
                  "compact() and vacuum the pre-compact versions, then " +
                  "relocate")
            }
          }
        }
    }
    Option(dst.getParent).foreach(f.mkdirs(_))
    require(f.rename(new Path(dir), dst),
      s"filesystem rename $dir -> $newDir failed")
    new TxTable(spark, newDir, schema, keys, numBuckets, commitBudgetMs,
      claimStalenessMs, bloomCols, bucketHash, fieldIds)
  }

  /** Files referenced by the CURRENT version (manifest metadata — no
    * directory listing). */
  def dataFileCount: Int =
    if (currentVersion < 0) 0 else loadManifest(currentVersion).entries.length

  /** Metadata of the current version's live data files — the export
    * surface (interop writers like [[DeltaExport]] read this instead
    * of the private manifest): absolute path, bucket, the manifest's
    * stats JSON, and the file's outstanding deletion-vector row count
    * (0 = the file's rows are all live). */
  def currentFileInfo: Seq[TxTable.LiveFile] =
    if (currentVersion < 0) Nil
    else loadManifest(currentVersion).entries.map(e =>
      TxTable.LiveFile(e.path, e.bucket, e.stats, e.dvs.map(_.rows).sum))

  /** [[currentFileInfo]] plus each file's DV sidecar paths — the
    * merge-on-read export surface ([[DeltaExport]] serializes the
    * sidecars' tombstones into protocol deletion vectors). */
  private[core] def currentFileInfoWithDvs
      : Seq[(TxTable.LiveFile, Seq[String])] =
    fileInfoWithDvsAt(currentVersion)

  /** [[currentFileInfoWithDvs]] pinned at a retained version — the
    * per-snapshot export surface (Iceberg history export walks the
    * retained ledger). */
  private[core] def fileInfoWithDvsAt(v: Long)
      : Seq[(TxTable.LiveFile, Seq[String])] =
    if (v < 0) Nil
    else loadManifest(v).entries.map(e =>
      (TxTable.LiveFile(e.path, e.bucket, e.stats, e.dvs.map(_.rows).sum),
        e.dvs.map(_.path)))

  /** Total bytes of the current version's data files — driver-side
    * metadata (one getFileStatus per manifest entry). */
  def currentDataBytes: Long =
    if (currentVersion < 0) 0L
    else {
      val f = fs
      loadManifest(currentVersion).entries.map { e =>
        scala.util.Try(f.getFileStatus(new Path(e.path)).getLen).getOrElse(0L)
      }.sum
    }

  /** DESCRIBE HISTORY analog — one row per RETAINED commit, derived
    * entirely from the manifests (no write-path bookkeeping to keep in
    * step): version, commit timestamp (manifest mtime), live file
    * count, files added / removed vs the previous retained version,
    * and the commit's meta keys. Driver-side over the version list —
    * control-plane bounded like every manifest walk; note a vacuum
    * that dropped old manifests makes the oldest retained row's
    * "added" count its full file set (there is no earlier state to
    * diff against — the honest reading of a truncated history). */
  def history: DataFrame = {
    import spark.implicits._
    val f = fs
    val states = versions.map { v =>
      val m = loadManifest(v)
      (v, m.entries.map(_.path).toSet, m.meta.keys.toSeq.sorted,
        new java.sql.Timestamp(
          f.getFileStatus(manifestPath(v)).getModificationTime))
    }
    states.zipWithIndex.map { case ((v, paths, metaKeys, ts), i) =>
      val prev = if (i == 0) Set.empty[String] else states(i - 1)._2
      (v, ts, paths.size.toLong, (paths -- prev).size.toLong,
        (prev -- paths).size.toLong, metaKeys.mkString(","))
    }.toDF("version", "commit_ts", "n_files", "n_added", "n_removed",
      "meta_keys")
  }

  /** Size-TARGETED compaction: derive the per-bucket output file count
    * from the table's ACTUAL bytes (files ≈ targetFileBytes each)
    * instead of a guessed constant — at 100 TB a one-file-per-bucket
    * `compact()` would write 100 GB files (unsplittable row groups,
    * no scan parallelism, no intra-bucket pruning), while a fixed
    * files-per-bucket over-fragments small tables. Hash buckets are
    * balanced by construction, so a single global files-per-bucket
    * derived from the average is the right granularity; files are
    * range-split and sorted on `clusterBy` (default: the key columns)
    * so zone maps prune within every bucket. */
  def compactTo(targetFileBytes: Long,
      clusterBy: Seq[String] = keys): Unit = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val perBucket = math.max(1L, math.ceil(
      currentDataBytes.toDouble / numBuckets / targetFileBytes).toLong)
    compactClustered(clusterBy, perBucket.toInt)
  }

  /** Drop manifests older than the newest `keepVersions` and delete
    * data files no retained manifest references — but NEVER anything
    * younger than `minAgeMs`. Bounds storage; the retention window is
    * the time-travel horizon AND the reader-lifetime contract: a
    * snapshot read pins a *file list*, so a job that holds a plan open
    * longer than `minAgeMs` after its version ages out of
    * `keepVersions` can hit FileNotFound. Size `minAgeMs` above the
    * longest job lifetime (default 7 days, the Delta `retentionHours`
    * analog). With CONCURRENT WRITERS it must also exceed the longest
    * in-flight commit: uncommitted files appear in `data/` only
    * inside a claim-held commit window (staging is outside `data/` —
    * see [[stageFiles]]), but a `vacuum(minAgeMs = 0)` landing inside
    * that window could still delete a just-moved file before its
    * manifest lands. Tests pass `0L` explicitly and only
    * single-writer.
    *
    * File identity is compared by MANIFEST-RELATIVE basename, not full
    * path: manifests store bare file names, `dataDir` contains only
    * this table's files, and basename comparison is exact regardless
    * of how `dir` was spelled (relative, `.`/`..`, `file:///`) — a
    * full-path string comparison would silently match nothing and
    * delete live data. Also sweeps aged-out commit claims and orphaned
    * tmp/stage debris from failed attempts. */
  /** What a [[vacuum]] with the same arguments WOULD delete — the
    * dry run every retention change deserves before it runs against
    * production: unreferenced aged data files and DV sidecars (with
    * their byte total) and the dropped manifest versions. Pure
    * metadata reads, zero mutation (the real vacuum's watermark
    * carry-forward commit is also previewed as `carriedMetaKeys`). */
  final case class VacuumPlan(dataFiles: Seq[String], dvFiles: Seq[String],
      droppedVersions: Seq[Long], bytes: Long,
      carriedMetaKeys: Seq[String])

  def vacuumPlan(
      keepVersions: Int = 1,
      minAgeMs: Long = TxTable.DefaultVacuumRetentionMs): VacuumPlan = {
    val f = fs
    val vs = versions
    if (vs.isEmpty) return VacuumPlan(Nil, Nil, Nil, 0L, Nil)
    val now = System.currentTimeMillis()
    def aged(st: org.apache.hadoop.fs.FileStatus): Boolean =
      now - st.getModificationTime >= minAgeMs
    val pinned = tags.values.toSet.intersect(vs.toSet)
    val keep = (vs.takeRight(math.max(1, keepVersions)) ++ pinned)
      .distinct.sorted
    val keptEntries = keep.flatMap(v => loadManifest(v).entries)
    val referenced: Set[String] =
      keptEntries.map(_.path.stripPrefix(s"$dataDir/")).toSet
    val referencedDvs: Set[String] = keptEntries
      .flatMap(_.dvs.map(_.path.stripPrefix(s"$dvDir/"))).toSet
    def sweep(d: String, ref: Set[String]): Seq[(String, Long)] =
      if (!f.exists(new Path(d))) Nil
      else f.listStatus(new Path(d)).toSeq.collect {
        case st if !ref(st.getPath.getName) && aged(st) =>
          st.getPath.getName -> st.getLen
      }
    val dataGone = sweep(dataDir, referenced)
    val dvGone = sweep(dvDir, referencedDvs)
    val oldestKept = keep.head
    val dropped = vs.filter(_ < oldestKept)
    val retainedKeys: Set[String] = vs.filter(_ >= oldestKept)
      .flatMap(commitMeta(_).keys).toSet
    val carried = dropped.sorted
      .foldLeft(Map.empty[String, String])((acc, v) => acc ++ commitMeta(v))
      .--(retainedKeys).filterNot(_._2 == TxTable.MetaTombstone)
    VacuumPlan(dataGone.map(_._1).sorted, dvGone.map(_._1).sorted,
      dropped, dataGone.map(_._2).sum + dvGone.map(_._2).sum,
      carried.keys.toSeq.sorted)
  }

  def vacuum(
      keepVersions: Int = 1,
      minAgeMs: Long = TxTable.DefaultVacuumRetentionMs): Unit = {
    val f = fs
    val vs = versions
    if (vs.isEmpty) return
    val now = System.currentTimeMillis()
    def aged(st: org.apache.hadoop.fs.FileStatus): Boolean =
      now - st.getModificationTime >= minAgeMs
    // TAGS are retention pins: a tagged manifest (and through the
    // reference sweep below, its files) survives past keepVersions —
    // that is what makes `VERSION AS OF '<tag>'` durable
    val pinned = tags.values.toSet.intersect(vs.toSet)
    val keep = (vs.takeRight(math.max(1, keepVersions)) ++ pinned)
      .distinct.sorted
    // manifests store bare names; stripPrefix inverts exactly what
    // loadManifest prepended, so this is the raw manifest name
    val keptEntries = keep.flatMap(v => loadManifest(v).entries)
    val referenced: Set[String] =
      keptEntries.map(_.path.stripPrefix(s"$dataDir/")).toSet
    if (f.exists(new Path(dataDir)))
      f.listStatus(new Path(dataDir)).foreach { st =>
        if (!referenced(st.getPath.getName) && aged(st))
          f.delete(st.getPath, false)
      }
    // deletion-vector sidecars: same reference-count-by-basename sweep
    val referencedDvs: Set[String] = keptEntries
      .flatMap(_.dvs.map(_.path.stripPrefix(s"$dvDir/"))).toSet
    if (f.exists(new Path(dvDir)))
      f.listStatus(new Path(dvDir)).foreach { st =>
        if (!referencedDvs(st.getPath.getName) && aged(st))
          f.delete(st.getPath, false)
      }
    val oldestKept = keep.head
    // Application watermarks (stream replay guards, IVM / replication
    // source versions) live in commit meta, and [[latestMeta]] scans
    // only RETAINED manifests — deleting the last manifest that
    // carries a key would silently reset its consumer (a replayed
    // stream batch would re-append, a view would full-recompute). So
    // BEFORE deleting anything, fold the newest dropped value of every
    // otherwise-lost key into one fresh commit. Crash-safe (the carry
    // commit lands first; a crash in between just re-runs the carry)
    // and race-safe (the lost set is recomputed inside each attempt,
    // so a concurrent commit writing a newer value for the same key
    // is never shadowed — its key lands in the retained set and drops
    // out of `lost`). Idempotent: once carried, the key is retained
    // and later vacuums skip it.
    val dropped = vs.filter(_ < oldestKept)
    if (dropped.nonEmpty) {
      val candidate = dropped.sorted
        .foldLeft(Map.empty[String, String])((acc, v) => acc ++ commitMeta(v))
      if (candidate.nonEmpty) withRetry {
        val base = currentVersion
        val m = loadManifest(base)
        val retainedKeys: Set[String] = versions.filter(_ >= oldestKept)
          .flatMap(commitMeta(_).keys).toSet
        // a key whose newest dropped value is a TOMBSTONE ends its
        // lifecycle here: not carried, and every older value aged out
        // with it — the retirement [[dropMeta]] promised
        val lost = (candidate -- retainedKeys)
          .filterNot(_._2 == TxTable.MetaTombstone)
        if (lost.nonEmpty) { commit(m.entries, base, m.declaredSchema, lost); () }
      }
    }
    dropped.foreach { v =>
      val p = manifestPath(v)
      if (f.exists(p) && aged(f.getFileStatus(p))) f.delete(p, false)
    }
    // orphaned debris from crashed/failed commit attempts. A claim is
    // garbage once its manifest exists (crash between rename and
    // claim-delete); a manifest-less claim is a crashed winner, but
    // only past the staleness window — younger ones are in-flight
    // commits (acquireClaim sweeps these on demand too).
    f.listStatus(new Path(manifestDir)).foreach { st =>
      val n = st.getPath.getName
      if ((n.startsWith(".tmp-") || n.startsWith(".swept-") ||
          (n.startsWith("..tmp-") && n.endsWith(".crc"))) && aged(st))
        f.delete(st.getPath, false)
      else if (n.endsWith(".claim")) {
        val v = n.stripPrefix("v").stripSuffix(".claim").toLong
        val committed = f.exists(manifestPath(v))
        val age = now - st.getModificationTime
        if ((committed && aged(st)) ||
            (!committed && age >= math.max(minAgeMs, claimStalenessMs)))
          f.delete(st.getPath, false)
      }
    }
    f.listStatus(new Path(dir)).foreach { st =>
      if (st.getPath.getName.startsWith(".stage-") && aged(st))
        f.delete(st.getPath, true)
    }
  }
}

object TxTable {
  /** Default bucket-id hash family: Spark's `hash()` (Murmur3 seed
    * 42) folded over the key columns. */
  val SparkBucketHash: String = "spark"

  /** The Iceberg spec's `bucket[N]` transform as the bucket-id hash —
    * single-key layouts whose exported partition spec STOCK readers
    * can prune (see [[graft.functions.IcebergBucketFn]]). */
  val IcebergBucketHash: String = "iceberg"

  /** Sticky per-column field id (schema metadata, [[TxTable.fieldIds]]
    * tables): stamped into parquet footers as `parquet.field.id` and
    * published as `delta.columnMapping.id` by id-mode Delta exports. */
  val FieldIdKey: String = "graft.fieldId"

  /** Commit-meta watermark: highest field id EVER assigned — written
    * by dropColumns so a retired id is never reissued. */
  private[graft] val MaxFieldIdKey = "graft.maxFieldId"

  /** Highest `graft.fieldId` in `s` (0 when none carry one). */
  private[graft] def maxFieldId(s: org.apache.spark.sql.types.StructType): Long =
    s.fields.iterator.map(f =>
      if (f.metadata.contains(FieldIdKey)) f.metadata.getLong(FieldIdKey)
      else 0L).foldLeft(0L)(math.max)

  /** True when EVERY field of `s` carries a field id — the id-mode
    * export precondition. */
  private[graft] def fieldIdsComplete(
      s: org.apache.spark.sql.types.StructType): Boolean =
    s.fields.nonEmpty && s.fields.forall(_.metadata.contains(FieldIdKey))

  /** `s` with `graft.fieldId` stamped create-order (1..n); fields that
    * already carry one keep it, missing ones number past the max. */
  private[graft] def stampFieldIds(
      s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    var next = maxFieldId(s)
    org.apache.spark.sql.types.StructType(s.fields.map { f =>
      if (f.metadata.contains(FieldIdKey)) f
      else {
        next += 1
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(FieldIdKey, next).build())
      }
    })
  }

  /** Commit-meta key marking a catalog-dropped table (see
    * [[TxTable.dropTable]]). */
  private[graft] val DroppedKey = "table_dropped"

  /** The O(1) dropped-table marker file name (catalog fast path). */
  private[graft] val DroppedMarker = "_dropped"

  /** Open an existing table directory read-only from its `_table.json`
    * descriptor — the shared entry the SQL surfaces (TVFs, CALL
    * procedures, the DSv2 provider's probe) use. Descriptor-less
    * tables open with placeholder keys unless `requireDescriptor`
    * (reads work; key-dependent paths refuse downstream). */
  private[graft] def openReadOnly(spark: org.apache.spark.sql.SparkSession,
      dir: String, requireDescriptor: Boolean = false): TxTable = {
    val desc = readDescriptor(spark, dir)
    if (requireDescriptor) require(desc.isDefined,
      s"$dir has no _table.json descriptor - this operation needs the " +
        "table identity; write once through the Scala API to record it")
    val (ks, nb, blooms, bh, fids) =
      desc.getOrElse((Seq("__reader__"), 1, Nil: Seq[String],
        SparkBucketHash, false))
    new TxTable(spark, dir, new org.apache.spark.sql.types.StructType(),
      ks, numBuckets = nb, bloomCols = blooms, bucketHash = bh,
      fieldIds = fids)
  }

  /** One live data file of a committed version (see
    * [[TxTable.currentFileInfo]]). */
  final case class LiveFile(path: String, bucket: Int, statsJson: String,
      dvRows: Long)

  /** The `_table.json` write descriptor, if the table has one:
    * (key columns, bucket count, bloom columns). See
    * `writeDescriptorIfAbsent` — schema-free opens need it to stage
    * correctly bucketed writes. */
  private[graft] def readDescriptor(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[(Seq[String], Int, Seq[String], String, Boolean)] =
    scala.util.Try {
      val p = new Path(dir, "_table.json")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
        val j = org.json4s.jackson.JsonMethods.parse(txt)
        Some((
          (j \ "keys").extract[Seq[String]],
          (j \ "numBuckets").extract[Int],
          (j \ "bloomCols").extract[Seq[String]],
          // absent in pre-existing descriptors = the defaults
          (j \ "bucketHash").extractOpt[String]
            .getOrElse(SparkBucketHash),
          (j \ "fieldIds").extractOpt[Boolean].getOrElse(false)))
      }
    }.toOption.flatten

  /** Default vacuum retention: nothing younger than this is ever
    * deleted, protecting live snapshot readers (see [[TxTable.vacuum]]). */
  val DefaultVacuumRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** Reserved commit-meta value marking a key retired by
    * [[TxTable.dropMeta]]: reads skip it, vacuum's carry-forward ends
    * the key's lifecycle at it. The NUL bytes keep it out of any
    * plausible application value space. */
  val MetaTombstone: String = "\u0000tombstone\u0000"

  /** Commit-meta keys that carry table GOVERNANCE state, not consumer
    * watermarks — [[TxTable.dropMeta]] refuses them (a tombstone would
    * silently disable CHECK validation / the dropped-column
    * resurrection guard). */
  val ReservedMetaKeys: Set[String] = Set("checks", "dropped_cols",
    TblPropsKey)

  /** Whether any column (nested included) is Spark 4's VARIANT. */
  private[graft] def hasVariantType(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.VariantType => true
    case s: StructType => s.fields.exists(f => hasVariantType(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType =>
      hasVariantType(a.elementType)
    case m: org.apache.spark.sql.types.MapType =>
      hasVariantType(m.keyType) || hasVariantType(m.valueType)
    case _ => false
  }

  /** Runs `body` with variant SHREDDING disabled when `schema`
    * carries a variant column. TxTable data files must stay the
    * plain value/metadata encoding: it is the layout the DSv2 row
    * reader decodes AND what the Delta `variantType` feature
    * (declared WITHOUT `variantShredding`) promises stock readers —
    * Spark 4.1 shreds by default, which would quietly break both.
    * Set/restore on the session conf; the window only narrows a
    * concurrent writer's optimization (unshredded is always valid
    * variant), never its correctness. */
  private[graft] def withUnshreddedVariant[T](
      spark: org.apache.spark.sql.SparkSession,
      schema: StructType)(body: => T): T =
    if (!schema.fields.exists(f => hasVariantType(f.dataType))) body
    else {
      val key = "spark.sql.variant.writeShredding.enabled"
      val prev = scala.util.Try(spark.conf.get(key)).toOption
      spark.conf.set(key, "false")
      try body
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }

  /** Commit-meta key carrying the user TBLPROPERTIES map (JSON). */
  val TblPropsKey: String = "tblproperties"

  /** Commit-meta key carrying ANALYZE column statistics (JSON). */
  val ColStatsKey: String = "colstats"

  /** One column's ANALYZE result: NDV, plus avg/max byte length for
    * strings (CBO's row-width inputs), plus an optional equi-height
    * histogram (CBO's skew input). */
  final case class ColAnalysis(ndv: Long, avgLen: Option[Double],
      maxLen: Option[Long], hist: Option[ColHistogram] = None)

  /** An equi-height histogram: every bin holds `height` rows; bins
    * are (lo, hi, distinct-count) over the column's double domain —
    * the exact shape Spark's CBO consumes (`FilterEstimation` /
    * `JoinEstimation` stop assuming uniformity wherever one is
    * declared). */
  final case class ColHistogram(height: Double,
      bins: Seq[(Double, Double, Long)])

  /** StructField-metadata key carrying a renamed column's stable
    * parquet (physical) name — the column-mapping record a
    * metadata-only RENAME COLUMN writes ([[TxTable.renameColumn]]). */
  val PhysicalNameKey: String = "graft.physical"

  /** Column-metadata keys Spark's parser writes for `GENERATED
    * [ALWAYS | BY DEFAULT] AS IDENTITY` columns
    * (org.apache.spark.sql.catalyst.util.IdentityColumn). */
  val IdentityStartKey: String = "identity.start"
  val IdentityStepKey: String = "identity.step"
  val IdentityAllowExplicitKey: String = "identity.allowExplicitInsert"

  /** Table property enabling write-triggered auto-compaction: a
    * bucket reaching this many files after an append rewrites to one
    * file in a follow-up `layout_only` commit (see
    * [[TxTable.maybeAutoCompact]]). */
  val AutoCompactKey: String = "graft.autoCompact.minFiles"

  /** Table properties upgrading write-triggered auto-compaction to a
    * CLUSTERED rewrite of the fragmented buckets (comma-separated
    * cluster columns + optional files-per-bucket target; see
    * [[TxTable.compactBucketsClustered]] for the hysteresis contract). */
  val AutoClusterKey: String = "graft.autoCluster.by"
  val AutoClusterFilesKey: String = "graft.autoCluster.filesPerBucket"

  /** The auto-cluster policy from table properties — ONE owner for
    * the column parse, the filesPerBucket default (minFiles/2) and
    * the hysteresis clamp, shared by the write-triggered pass
    * ([[TxTable.maybeAutoCompact]]) and `CALL graft.maintenance` so
    * the two triggers can never drift on the same property. Returns
    * (effectiveMinFiles, clusterColumns, filesPerBucket), or None
    * when the property is absent/empty (plain compaction applies). */
  def autoClusterPolicy(props: Map[String, String],
      minFiles: Int): Option[(Int, Seq[String], Int)] =
    props.get(AutoClusterKey)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .map { cols =>
        val fpb = props.get(AutoClusterFilesKey)
          .flatMap(_.toIntOption).filter(_ >= 1)
          .getOrElse(math.max(1, minFiles / 2))
        (math.max(minFiles, fpb + 1), cols, fpb)
      }

  /** CREATE-time validation of `GENERATED ALWAYS AS (expr)` columns,
    * shared by the SQL catalog's DDL path and [[TxTable]]'s
    * `createIfAbsent` (the Scala-API door): the expression must
    * resolve against the table's PLAIN columns only (no
    * self/generated/identity references — stored values for those may
    * predate any given recompute), be deterministic (rewrites and the
    * write-path equality check recompute it), and stay a scalar
    * row-local projection — aggregates AND window functions are
    * refused by walking the ANALYZED plan (a window expression hides
    * under a top-level Project, so a node-type check on the root
    * would miss it). */
  def validateGeneratedExprs(spark: SparkSession, schema: StructType): Unit = {
    val gens = schema.fields.filter(
      _.metadata.contains(GeneratedExprKey))
    if (gens.isEmpty) return
    val special = schema.fields.filter(f =>
      f.metadata.contains(GeneratedExprKey) ||
        f.metadata.contains(IdentityStartKey)).map(_.name).toSeq
    val plain = StructType(schema.fields.filterNot(f =>
      special.exists(_.equalsIgnoreCase(f.name))))
    val emptyPlain = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], plain)
    gens.foreach { f =>
      val sql = f.metadata.getString(GeneratedExprKey)
      val refs = spark.sessionState.sqlParser.parseExpression(sql)
        .collect { case a: org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute => a.name }
      refs.foreach(r => require(
        !special.exists(_.equalsIgnoreCase(r)),
        s"generated column '${f.name}': GENERATED ALWAYS AS ($sql) may " +
          s"not reference generated/identity column '$r'"))
      val analyzed = scala.util.Try(
        emptyPlain.select(expr(sql).cast(f.dataType))
          .queryExecution.analyzed)
      require(analyzed.isSuccess,
        s"generated column '${f.name}': GENERATED ALWAYS AS ($sql) does " +
          s"not resolve to ${f.dataType.simpleString} over columns " +
          s"(${plain.fieldNames.mkString(", ")}): " +
          analyzed.failed.map(_.getMessage).getOrElse(""))
      val offenders = analyzed.get.collect {
        case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
          "aggregates"
        case _: org.apache.spark.sql.catalyst.plans.logical.Window =>
          "window functions"
      }
      require(offenders.isEmpty,
        s"generated column '${f.name}': GENERATED ALWAYS AS ($sql) must " +
          s"be a scalar row-local expression (no ${offenders.head})")
      require(analyzed.get.expressions.forall(_.deterministic),
        s"generated column '${f.name}': GENERATED ALWAYS AS ($sql) must " +
          "be deterministic")
    }
  }

  /** Column-metadata key carrying a `GENERATED ALWAYS AS (expr)`
    * column's generation expression (SQL text binding the table's
    * other declared columns). The key is Spark's own
    * (`GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY`, the
    * `CURRENT_DEFAULT` convention), so `Column[]` conversions and
    * DESCRIBE surfaces round-trip it. The value MATERIALIZES at write
    * time ([[TxTable]]'s `applyGenerated` inside `stageFiles` — the
    * single choke point every write path stages through), so reads,
    * stats, zone-map skipping and interop exports all see plain
    * stored values; the expression itself is a write-side directive. */
  val GeneratedExprKey: String = "GENERATION_EXPRESSION"

  /** Lossless primitive widenings [[TxTable.widenColumn]] allows —
    * exactly the upcasts Spark 4's parquet readers perform when the
    * requested type is wider than the physical one. */
  private[core] def widensTo(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      case (FloatType, DoubleType)                        => true
      case _                                              => false
    }
  }

  /** `df` shaped to `target`: present columns cast (matched
    * case-insensitively, renamed to the stored spelling), absent
    * columns null-filled. The ONE conform used by every write surface
    * (Scala evolving writers, the streaming sink) so batch and
    * streaming shaping semantics can never drift. */
  private[graft] def conformTo(df: DataFrame, target: StructType): DataFrame =
    df.select(target.fields.map { fl =>
      df.columns.find(_.equalsIgnoreCase(fl.name)) match {
        case Some(c) => col(c).cast(fl.dataType).as(fl.name)
        case None => lit(null).cast(fl.dataType).as(fl.name)
      }
    }.toIndexedSeq: _*)

  /** Default total time a conflicting writer keeps rebasing before
    * giving up with [[CommitConflict]] (see [[TxTable.withRetry]]). */
  val DefaultCommitBudgetMs: Long = 30L * 1000

  /** Default age past which a manifest-less claim is presumed the
    * orphan of a crashed writer and swept (see [[TxTable.acquireClaim]]).
    * Must exceed a commit's manifest write + rename plus the longest
    * plausible stall (GC pause, FS hiccup). */
  val DefaultClaimStalenessMs: Long = 10L * 60 * 1000

  /** Bloom probing reads one footer per candidate file driver-side;
    * past this many surviving files the planning cost would rival the
    * scan it saves, so probing turns off (zone maps still apply). On a
    * cluster this is where probes would fan out to executors instead. */
  val MaxBloomProbeFiles: Int = 1024

  /** Column names the table machinery uses as scratch (bucket/layout
    * columns on the write path, file/position provenance on the
    * deletion-vector read path) — a user schema containing one would
    * be silently overwritten, so the constructor rejects them. */
  val ReservedCols: Seq[String] =
    Seq("_kb", "_layout", "_file", "_pos", "_dv_file", "_dv_pos")

  /** A writer lost the race for its target version; the mutation is
    * rebased onto the new current version and retried. */
  final class CommitConflict(msg: String) extends RuntimeException(msg)

  /** Read-only view of a table AS OF the base version a guarded-commit
    * attempt claims against ([[TxTable.appendIf]]/`upsertIf`/
    * `replaceIf`/`applyChangesIf`). Preconditions receive THIS — never
    * floating head state — so the exclusive claim of `version + 1`
    * serializes the precondition check with publication. */
  final class Snapshot private[core] (
      val version: Long, lookup: String => Option[String]) {
    /** Newest value for `key` among retained commits `<= version`
      * (the snapshot-pinned [[TxTable.latestMeta]]). */
    def meta(key: String): Option[String] = lookup(key)
  }
}
