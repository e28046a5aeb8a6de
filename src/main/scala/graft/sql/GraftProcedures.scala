package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, StringType, StructType}

import graft.core.TxTable

/** SQL STORED PROCEDURES for table maintenance — the Iceberg
  * `CALL catalog.procedure(...)` analog, injected as a delegating
  * parser ([[GraftSqlParser]] via `SparkSessionExtensions
  * .injectParser`), so the FULL table lifecycle is SQL text:
  *
  * {{{
  * CALL graft.compact('/data/t')
  * CALL graft.zorder('/data/t', 'c1,c2')
  * CALL graft.materialize_deletes('/data/t')
  * CALL graft.vacuum('/data/t', 2)        -- keep 2 versions
  * CALL graft.undrop('/data/t')
  * CALL graft.export_delta('/data/t')     -- publish/sync _delta_log
  * CALL graft.export_iceberg('/data/t')   -- publish v2 metadata tree
  * }}}
  *
  * Each CALL plans as a leaf command — the side effect runs at
  * EXECUTION, never at analysis (an `EXPLAIN CALL ...` is free), and
  * the result is a small (metric, value) report. Everything routes
  * through the same guarded maintenance entry points the Scala API
  * uses; unknown procedures and malformed argument lists fail at
  * execution with the procedure list named.
  */
final case class GraftCallCommand(proc: String, args: Seq[String])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("metric", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())

  /** Table argument: a directory path, or a configured-catalog
    * identifier (`lake.ns.t` → `<spark.sql.catalog.lake.root>/ns/t`)
    * — so CALL addresses tables the same two ways SELECT does. */
  private def resolveDir(spark: SparkSession, tableArg: String): String =
    if (tableArg.contains("/")) {
      // SECURITY GATE: a raw filesystem path from pure SQL text would
      // hand every SQL-only user destructive maintenance (vacuum,
      // rebucket, compact) on ANY directory the driver can reach.
      // Catalog identifiers stay open — they resolve under a root the
      // admin configured. Paths need an explicit administrator opt-in.
      require(spark.conf.getOption(GraftCallCommand.AllowRawPathsKey)
        .exists(_.equalsIgnoreCase("true")),
        s"CALL graft.$proc('$tableArg'): raw filesystem paths are " +
          s"disabled - address the table through a configured catalog " +
          s"(catalog.ns.table) or set " +
          s"${GraftCallCommand.AllowRawPathsKey}=true")
      tableArg
    }
    else tableArg.split("\\.").toSeq match {
      case cat +: rest if rest.nonEmpty =>
        spark.conf.getOption(s"spark.sql.catalog.$cat.root") match {
          case Some(root) => (root +: rest).mkString("/")
          case None => throw new IllegalArgumentException(
            s"'$tableArg' is neither a path nor an identifier of a " +
              s"configured graft catalog (no spark.sql.catalog.$cat.root)")
        }
      case _ => throw new IllegalArgumentException(
        s"'$tableArg' is neither a path nor a catalog.table identifier")
    }

  private def open(spark: SparkSession, tableArg: String): TxTable =
    TxTable.openReadOnly(spark, resolveDir(spark, tableArg),
      requireDescriptor = true)

  private def arg(i: Int, what: String): String = {
    require(i < args.length, s"CALL graft.$proc: missing argument " +
      s"${i + 1} ($what)")
    args(i)
  }

  override def run(spark: SparkSession): Seq[Row] = {
    def report(tx: TxTable, extra: (String, String)*): Seq[Row] =
      (Seq("table" -> tx.dir, "version" -> tx.currentVersion.toString,
        "files" -> tx.dataFileCount.toString) ++ extra)
        .map { case (k, v) => Row(k, v) }
    proc match {
      case "compact" =>
        val tx = open(spark, arg(0, "table directory"))
        val before = tx.dataFileCount
        tx.compact()
        report(tx, "files_before" -> before.toString)
      case "zorder" =>
        val tx = open(spark, arg(0, "table directory"))
        val cols = arg(1, "columns").split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        val before = tx.dataFileCount
        tx.compactZOrdered(cols)
        report(tx, "files_before" -> before.toString,
          "zorder_by" -> cols.mkString(","))
      case "materialize_deletes" =>
        val tx = open(spark, arg(0, "table directory"))
        tx.materializeDeletes()
        report(tx)
      case "vacuum" =>
        val tx = open(spark, arg(0, "table directory"))
        val keep = if (args.length > 1) arg(1, "keep versions").toInt else 1
        val dry = args.length > 2 &&
          arg(2, "mode").equalsIgnoreCase("dry_run")
        if (dry) {
          // preview only: what this retention WOULD delete, zero I/O
          // beyond metadata — run before changing retention in prod
          val p = tx.vacuumPlan(keepVersions = keep)
          report(tx, "dry_run" -> "true",
            "kept_versions" -> keep.toString,
            "would_delete_data_files" -> p.dataFiles.length.toString,
            "would_delete_dv_files" -> p.dvFiles.length.toString,
            "would_drop_versions" -> p.droppedVersions.length.toString,
            "would_free_bytes" -> p.bytes.toString,
            "would_carry_meta_keys" -> p.carriedMetaKeys.mkString(","))
        } else {
          tx.vacuum(keepVersions = keep)
          report(tx, "kept_versions" -> keep.toString)
        }
      case "undrop" =>
        val tx = open(spark, arg(0, "table directory"))
        tx.undropTable()
        report(tx)
      case "tag" =>
        val tx = open(spark, arg(0, "table directory"))
        if (args.length > 2) tx.createTag(arg(1, "tag name"),
          arg(2, "version").toLong)
        else tx.createTag(arg(1, "tag name"))
        report(tx, "tag" -> arg(1, "tag name"),
          "pinned_version" -> tx.tags(arg(1, "tag name")).toString)
      case "drop_tag" =>
        val tx = open(spark, arg(0, "table directory"))
        tx.dropTag(arg(1, "tag name"))
        report(tx, "dropped_tag" -> arg(1, "tag name"))
      case "branch" =>
        val tx = open(spark, arg(0, "table directory"))
        val b = tx.createBranch(arg(1, "branch name"))
        report(tx, "branch" -> arg(1, "branch name"),
          "branch_dir" -> b.dir)
      case "publish" =>
        // write-audit-publish flip: CHECK expectations re-run over the
        // branch head pre-flip; the commit CASes on the fork version
        val tx = open(spark, arg(0, "table directory"))
        val v = tx.publishBranch(arg(1, "branch name"))
        report(tx, "published" -> arg(1, "branch name"),
          "published_version" -> v.toString)
      case "drop_branch" =>
        val tx = open(spark, arg(0, "table directory"))
        tx.dropBranch(arg(1, "branch name"))
        report(tx, "dropped_branch" -> arg(1, "branch name"))
      case "copy_into" =>
        // idempotent batch file ingest (graft.core.CopyInto): loads
        // only not-yet-loaded source files, exactly once under
        // concurrency. Source dir is a read-only input, so it is not
        // gated by allowRawPaths (nothing destructive can reach it).
        val tx = open(spark, arg(0, "table directory"))
        val srcDir = arg(1, "source directory")
        val fmt = if (args.length > 2) arg(2, "format") else "parquet"
        val pat = if (args.length > 3) arg(3, "glob pattern") else "*"
        // reader options as 'k=v;k=v' (e.g. 'header=true;sep=|')
        val opts: Map[String, String] =
          if (args.length <= 4) Map.empty
          else arg(4, "reader options").split(";").iterator
            .map(_.trim).filter(_.nonEmpty).map { kv =>
              val i = kv.indexOf('=')
              require(i > 0, s"reader option '$kv' is not k=v")
              kv.take(i).trim -> kv.drop(i + 1).trim
            }.toMap
        val r = graft.core.CopyInto.run(spark, tx, srcDir, fmt, pat, opts)
        report(tx, "loaded_files" -> r.loaded.toString,
          "skipped_files" -> r.skipped.toString,
          "loaded_rows" -> r.rows.toString)
      case "restore" =>
        // rollback under pressure, as SQL text: re-publish version v's
        // file set as a NEW commit (history preserved, same contract
        // as the Scala API)
        val tx = open(spark, arg(0, "table directory"))
        val v = arg(1, "version to restore").toLong
        tx.restore(v)
        report(tx, "restored_version" -> v.toString)
      case "export_delta" =>
        val tx = open(spark, arg(0, "table directory"))
        // first publish writes the full log; later calls append diffs;
        // an optional 'cdf' flag publishes the Change Data Feed too
        val cdf = args.length > 1 && arg(1, "mode").equalsIgnoreCase("cdf")
        val v = graft.core.DeltaExport.syncDeltaLog(spark, tx, cdf = cdf)
        report(tx, "delta_commit" -> v.map(_.toString).getOrElse("no-op"))
      case "relocate" =>
        // RENAME TO for path-addressed tables: one atomic directory
        // rename (manifests are table-relative); the same honesty
        // guards as the catalog verb (TxTable.relocateTo)
        val tx = open(spark, arg(0, "source table"))
        val dst = resolveDir(spark, arg(1, "destination"))
        val moved = tx.relocateTo(dst)
        report(moved, "from" -> tx.dir)
      case "rebucket" =>
        val tx = open(spark, arg(0, "source table"))
        val dstDir = resolveDir(spark, arg(1, "destination table"))
        val n = arg(2, "new bucket count").toInt
        val dst = tx.rebucketTo(dstDir, n)
        report(dst, "source" -> tx.dir, "buckets" -> n.toString)
      case "export_iceberg" =>
        val tx = open(spark, arg(0, "table directory"))
        // optional arg 1: format version (3 = Puffin DVs). Omitted =
        // 0 = KEEP the published tree's version (else 2) — a
        // scheduled re-sync must never silently downgrade a v3 tree.
        // optional arg 2: delete mode ('position' default;
        // 'equality' = key-valued deletes for CDC-shape consumers)
        val fv = if (args.length > 1) arg(1, "format version").toInt else 0
        val dm = if (args.length > 2) arg(2, "delete mode") else "position"
        val p = graft.core.IcebergExport.writeIcebergMetadata(spark, tx,
          formatVersion = fv, deleteMode = dm)
        report(tx, "metadata" -> p,
          "format_version" -> (if (fv == 0) "kept" else fv.toString),
          "delete_mode" -> dm)
      case "export_uniform" =>
        // BOTH dialects over one copy of the data (the UniForm verb):
        // _delta_log sync + Iceberg tree in one CALL. Optional arg 1:
        // iceberg format version (3 = Puffin DVs + the v3 variant
        // type - required for variant-columned tables). Omitted = 0 =
        // keep the published tree's version (else 2), so a scheduled
        // re-sync never downgrades a previously v3 tree.
        val tx = open(spark, arg(0, "table directory"))
        val fv = if (args.length > 1) arg(1, "format version").toInt else 0
        val v = graft.core.DeltaExport.syncDeltaLog(spark, tx)
        val p = graft.core.IcebergExport.writeIcebergMetadata(spark, tx,
          formatVersion = fv)
        report(tx, "delta_commit" -> v.map(_.toString).getOrElse("no-op"),
          "iceberg_metadata" -> p)
      case "cluster" =>
        // lexicographic twin of zorder: range-split every bucket by
        // the cluster key (tight zone maps on the LEADING column)
        val tx = open(spark, arg(0, "table directory"))
        val cols = arg(1, "columns").split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        val fpb = if (args.length > 2) arg(2, "files per bucket").toInt else 8
        val before = tx.dataFileCount
        tx.compactClustered(cols, fpb)
        report(tx, "files_before" -> before.toString,
          "cluster_by" -> cols.mkString(","))
      case "export_expire" =>
        // expire_snapshots / remove_orphan_files for the exported
        // trees: Iceberg orphan metadata + Delta pre-checkpoint log
        // commits, whichever dialects this table has published
        val tx = open(spark, arg(0, "table directory"))
        val minAge =
          if (args.length > 1) arg(1, "min age ms").toLong
          else 10L * 60L * 1000L
        val keepCp =
          if (args.length > 2) arg(2, "keep checkpoints").toInt else 2
        val root = new org.apache.hadoop.fs.Path(tx.dir)
        val fs = root.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val hasIce = fs.exists(new org.apache.hadoop.fs.Path(root,
          "metadata/version-hint.text"))
        val hasDelta = fs.exists(new org.apache.hadoop.fs.Path(root,
          "_delta_log"))
        val (iceFiles, iceBytes) =
          if (hasIce)
            graft.core.IcebergExport.expireOrphans(spark, tx, minAge)
          else (0, 0L)
        val deltaFiles =
          if (hasDelta)
            graft.core.DeltaExport.expireLog(spark, tx, keepCp)
          else 0
        report(tx,
          "iceberg_files_removed" -> iceFiles.toString,
          "iceberg_bytes_removed" -> iceBytes.toString,
          "delta_files_removed" -> deltaFiles.toString)
      case "export_stats" =>
        // Publish the current snapshot's NDV as a spec Puffin file
        // (apache-datasketches-theta-v1 blobs) and re-sync the
        // Iceberg metadata so stock readers see the declaration —
        // our ANALYZE numbers stop being engine-private
        val tx = open(spark, arg(0, "table directory"))
        val lgK = if (args.length > 1) arg(1, "lgK").toInt else 12
        val p = graft.core.IcebergExport.writeStatistics(spark, tx, lgK)
        val md = graft.core.IcebergExport.writeIcebergMetadata(spark, tx)
        report(tx, "statistics" -> p, "metadata" -> md)
      case "import_stats" =>
        // Adopt a FOREIGN Iceberg tree's declared Puffin NDV as this
        // table's column statistics: one metadata commit, zero data
        // passes - the import-side CBO story (statisticsNdv ->
        // declareColumnAnalysis). Columns the table doesn't have are
        // skipped, not refused: foreign schemas may be wider.
        val tx = open(spark, arg(0, "table directory"))
        val src = arg(1, "foreign iceberg directory")
        val ndv = graft.core.IcebergImport.statisticsNdv(spark, src)
        val schema = tx.currentSchema
        val usable = ndv.filter { case (c, _) =>
          schema.fields.exists(_.name.equalsIgnoreCase(c)) }
        require(usable.nonEmpty,
          s"$src declares no statistics for any column of ${tx.dir} - " +
            "nothing to adopt (run CALL graft.analyze instead)")
        tx.declareColumnAnalysis(usable.view.mapValues(n =>
          graft.core.TxTable.ColAnalysis(n, None, None)).toMap)
        report(tx, usable.toSeq.sortBy(_._1).map { case (c, n) =>
          s"ndv_$c" -> n.toString }: _*)
      case "analyze" =>
        // ANALYZE ... FOR COLUMNS: declare per-column NDV (+ string
        // lengths) for the CBO feed. Default = every flat column,
        // one-pass HLL sketches; 'exact' pays count(DISTINCT).
        val tx = open(spark, arg(0, "table directory"))
        val cols =
          if (args.length > 1 && arg(1, "columns").nonEmpty)
            arg(1, "columns").split(",").map(_.trim)
              .filter(_.nonEmpty).toSeq
          else Nil
        val exact = args.length > 2 &&
          arg(2, "mode").equalsIgnoreCase("exact")
        // arg 3: equi-height histogram bin count (numeric columns);
        // 0/absent = NDV only
        val bins = if (args.length > 3) arg(3, "histogram bins").toInt else 0
        val out = tx.analyzeColumns(cols, exact = exact,
          histogramBins = bins)
        report(tx, out.toSeq.sortBy(_._1).map { case (c, a) =>
          s"ndv_$c" -> a.ndv.toString }: _*)
      case "maintenance" =>
        // POLICY-DRIVEN auto-maintenance — the "nobody has to
        // remember to run OPTIMIZE" verb for scheduled callers: each
        // step runs only when its threshold trips (below it the step
        // is a metadata no-op, so the CALL is idempotent and cheap to
        // run on a tight schedule). Thresholds come from
        // TBLPROPERTIES, with the compaction one overridable as arg 2:
        //   graft.autoCompact.minFiles       (default 8): a bucket
        //     holding >= this many files rewrites to one file —
        //     compactBuckets touches ONLY fragmented buckets, so the
        //     write amplification at 100 TB is bounded by the hot
        //     buckets continuous ingest actually fragmented
        //   graft.autoMaintain.minDeadFraction (default 0.3): buckets
        //     whose DV-tombstoned share exceeds it fold deletes in
        //   graft.vacuum.keepVersions (NO default): vacuum runs ONLY
        //     when retention is explicitly configured — time travel
        //     retention is never silently shortened by maintenance
        val tx = open(spark, arg(0, "table directory"))
        val props = tx.tableProperties
        // explicit ARG errors loudly (caller typed it); the PROPERTY
        // parses tolerantly with the same >=2 floor as the
        // write-triggered pass, so a value appends silently ignore
        // can never fail the scheduled CALL instead
        val minFiles =
          if (args.length > 1) arg(1, "min files per bucket").toInt
          else props.get("graft.autoCompact.minFiles")
            .flatMap(_.toIntOption).filter(_ >= 2).getOrElse(8)
        val deadFrac = props.get("graft.autoMaintain.minDeadFraction")
          .flatMap(_.toDoubleOption).getOrElse(0.3)
        val before = tx.dataFileCount
        //   graft.autoCluster.by (optional): upgrades the compaction
        //     step to a CLUSTERED rewrite of the same fragmented
        //     buckets (zone maps stay tight on the cluster key);
        //     policy shared with the write-triggered pass
        val rewrote = TxTable.autoClusterPolicy(props, minFiles) match {
          case Some((eff, cols, fpb)) =>
            tx.compactBucketsClustered(eff, cols, fpb)
          case None => tx.compactBuckets(minFiles)
        }
        tx.materializeDeletes(minDeadFraction = deadFrac)
        // unparseable keepVersions SKIPS vacuum (never guess a
        // retention); unparseable minAgeMs falls back to the default —
        // a malformed property can never fail scheduled maintenance
        val vacuumed = props.get("graft.vacuum.keepVersions")
          .flatMap(_.toIntOption).map { kv =>
            val minAge = props.get("graft.vacuum.minAgeMs")
              .flatMap(_.toLongOption)
              .getOrElse(TxTable.DefaultVacuumRetentionMs)
            tx.vacuum(keepVersions = kv, minAgeMs = minAge)
            kv.toString
          }
        //   graft.autoAnalyze.staleVersions (optional): when the
        //     ANALYZE declaration is missing or >= N versions behind
        //     the head, recompute approx NDV (one HLL pass) so CBO's
        //     join estimates never rot on a continuously-ingesting
        //     table. Tolerant parse; never fails the scheduled CALL.
        val analyzed: Option[Int] = props
          .get("graft.autoAnalyze.staleVersions")
          .flatMap(_.toLongOption).filter(_ >= 1L).flatMap { n =>
            val staleBy = tx.columnAnalysis match {
              case Some((ver, _)) => tx.currentVersion - ver
              case None           => Long.MaxValue
            }
            // the stats commit itself bumps the head, so a fresh
            // declaration sits exactly 1 behind — strict > keeps an
            // idle table from re-analyzing (and re-committing) on
            // every scheduled maintenance call at staleVersions=1
            //   graft.autoAnalyze.histogramBins (optional, >= 2):
            //     refreshes keep equi-height histograms — without it
            //     a scheduled refresh would silently DOWNGRADE a
            //     histogram'd declaration to NDV-only
            val bins = props.get("graft.autoAnalyze.histogramBins")
              .flatMap(_.toIntOption).filter(_ >= 2).getOrElse(0)
            if (staleBy > n)
              scala.util.Try(
                tx.analyzeColumns(histogramBins = bins).size).toOption
            else None
          }
        //   graft.autoAnalyze.exportStats (optional, "true"): after a
        //     refresh, REPUBLISH the exported Iceberg tree's Puffin
        //     statistics + metadata so stock readers' NDV stays as
        //     fresh as our own CBO's. Only when a tree exists; failure
        //     never fails the scheduled CALL (same tolerance rule).
        val statsExported = analyzed.exists(_ > 0) &&
          props.get("graft.autoAnalyze.exportStats")
            .exists(_.equalsIgnoreCase("true")) &&
          scala.util.Try {
            val root = new org.apache.hadoop.fs.Path(tx.dir)
            val tfs = root.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            if (!tfs.exists(new org.apache.hadoop.fs.Path(root,
              "metadata/version-hint.text"))) false
            else {
              graft.core.IcebergExport.writeStatistics(spark, tx)
              graft.core.IcebergExport.writeIcebergMetadata(spark, tx)
              true
            }
          }.getOrElse(false)
        report(tx, "files_before" -> before.toString,
          "compacted_buckets" -> rewrote.toString,
          "min_files_threshold" -> minFiles.toString,
          "vacuum_keep_versions" -> vacuumed.getOrElse("off"),
          "analyzed_columns" -> analyzed.map(_.toString).getOrElse("0"),
          "stats_exported" -> statsExported.toString)
      case "txn" =>
        // MULTI-TABLE TRANSACTION from pure SQL — the JobTxn surface:
        //   CALL graft.txn('<journalDir>', 'name=table[,name=table]',
        //                  '<sql statement>'[, '<sql statement>'...])
        // Statements run in order inside one JobTxn over the enlisted
        // tables: any failure rolls EVERY enlisted table back to its
        // pre-txn version (compensating, crash-safe via the intent
        // journal — see graft.txn_recover); success commits by
        // deleting the journal. Same caveats as the Scala API:
        // single-writer per enlisted table, readers see intermediate
        // states (cross-table consistency holds at txn boundaries).
        val journal = resolveDir(spark, arg(0, "journal directory"))
        val pairs = arg(1, "tables (name=table,...)")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { kv =>
            kv.split("=", 2) match {
              case Array(n, d) if n.trim.nonEmpty && d.trim.nonEmpty =>
                n.trim -> open(spark, d.trim)
              case _ => throw new IllegalArgumentException(
                s"CALL graft.txn: '$kv' is not name=table")
            }
          }
        val stmts = args.drop(2)
        require(stmts.nonEmpty,
          "CALL graft.txn needs at least one SQL statement")
        graft.core.JobTxn.run(spark, journal, pairs) {
          stmts.foreach { st => spark.sql(st).collect(); () }
        }
        pairs.map { case (n, t) =>
          Row(s"$n.version", t.currentVersion.toString) } ++
          Seq(Row("statements", stmts.length.toString),
            Row("journal", journal))
      case "txn_recover" =>
        // startup WAL-recovery: roll crashed journals back
        //   CALL graft.txn_recover('<journalDir>', 'name=table,...')
        val journal = resolveDir(spark, arg(0, "journal directory"))
        val mapping = arg(1, "tables (name=table,...)")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { kv =>
            kv.split("=", 2) match {
              case Array(n, d) if n.trim.nonEmpty && d.trim.nonEmpty =>
                n.trim -> open(spark, d.trim)
              case _ => throw new IllegalArgumentException(
                s"CALL graft.txn_recover: '$kv' is not name=table")
            }
          }.toMap
        val n = graft.core.JobTxn.recover(spark, journal, name =>
          mapping.getOrElse(name, throw new IllegalArgumentException(
            s"journal names unknown table '$name' - pass it in the " +
              "mapping (quarantined otherwise)")))
        Seq(Row("recovered_journals", n.toString),
          Row("journal", journal))
      case other => throw new UnsupportedOperationException(
        s"unknown procedure graft.$other - available: compact, cluster, " +
          "zorder, materialize_deletes, vacuum, maintenance, copy_into, " +
          "undrop, restore, relocate, rebucket, export_delta, " +
          "export_iceberg, export_uniform, tag, drop_tag, branch, " +
          "publish, drop_branch, txn, txn_recover")
    }
  }
}

object GraftCallCommand {
  /** Opt-in for raw filesystem-path arguments to `CALL graft.*` —
    * default OFF so SQL text alone can't run destructive maintenance
    * against arbitrary reachable directories. */
  val AllowRawPathsKey = "spark.graft.sql.allowRawPaths"
}

/** Delegating parser: intercepts `CALL graft.<proc>(<args>)`
  * statements and hands every other string to Spark's own parser
  * untouched. */
final class GraftSqlParser(delegate: ParserInterface)
    extends ParserInterface {

  private val CallRe =
    """(?is)\s*CALL\s+graft\.([a-zA-Z_]+)\s*\((.*)\)\s*;?\s*""".r

  // one quoted string (commas stay intact; SQL-standard '' escapes a
  // quote) or one bare token
  private val ArgRe = """'((?:[^']|'')*)'|([^,\s'][^,]*)""".r
  private def parseArgs(raw: String): Seq[String] =
    if (raw.trim.isEmpty) Nil
    else ArgRe.findAllMatchIn(raw).map(m =>
      Option(m.group(1)).map(_.replace("''", "'"))
        .getOrElse(m.group(2).trim)).toSeq

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case CallRe(proc, rawArgs) =>
      GraftCallCommand(
        proc.toLowerCase(java.util.Locale.ROOT), parseArgs(rawArgs))
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}
