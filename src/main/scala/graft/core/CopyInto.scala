package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Idempotent batch file ingest — the `COPY INTO` verb (the
  * warehouse-loader shape of Databricks' COPY INTO / Snowflake's
  * COPY): load files from a source directory into a [[TxTable]]
  * exactly once, so re-running the same command after new files land
  * loads ONLY the new files, and re-running after a crash or on a
  * schedule never duplicates rows.
  *
  * Exactly-once mechanics: each copy commit carries the CUMULATIVE
  * fingerprint set of every file ever loaded (`copy_into_files`
  * commit meta — one line in the copy commit's manifest, carried
  * forward by vacuum like every application watermark) and lands
  * through [[TxTable.appendIf]] with a compare-and-set precondition
  * on that very meta: two concurrent copy runs over the same source
  * can never both load a file — the loser's CAS fails and it
  * recomputes the fresh-file set against the winner's ledger.
  * A fingerprint is `path|size|mtime`: a file REPLACED in place (new
  * bytes, same name) reads as new and loads again — append is the
  * contract, dedup of re-delivered rows is the key layer's job
  * ([[TxTable.upsert]]) or the dedup operators'.
  *
  * At 100 TB: listing is one driver-side globStatus (same cost every
  * batch loader pays); the data read/write is fully distributed; the
  * ledger meta is bounded by the SOURCE file count, not table size —
  * at millions of retained source files, archive ingested files out
  * of the source prefix (the operational remedy every ledger-based
  * loader shares; the ledger only ever needs files still listable).
  */
object CopyInto {

  val MetaKey = "copy_into_files"

  /** One run's outcome: files loaded this run, files skipped as
    * already-loaded, rows appended, and the table version the load
    * committed (table's current version when nothing was new). */
  final case class Result(loaded: Int, skipped: Int, rows: Long,
      version: Long)

  private def encode(s: Set[String]): String =
    s.toSeq.sorted.mkString("\n")
  private def decode(s: String): Set[String] =
    s.split("\n").iterator.filter(_.nonEmpty).toSet

  /** Fingerprints of every file ever loaded into `table` by this
    * verb (diagnostics / the `graft_copy_ledger` TVF). */
  def ledger(table: TxTable): Set[String] =
    table.latestMeta(MetaKey).map(decode).getOrElse(Set.empty)

  /** Shared with the STREAMING twin ([[graft.sources
    * .GraftFilesSource]]): same fingerprint scheme, same listing
    * filter, so the batch and continuous ingest paths agree on what
    * "a new file" means (a replaced file re-loads in both). */
  private[graft] def fingerprint(st: FileStatus): String =
    s"${st.getPath.toString}|${st.getLen}|${st.getModificationTime}"

  /** Loadable files under `src` matching `pattern` (data files only —
    * dot/underscore names are reader metadata by convention). */
  private[graft] def listSource(
      fs: org.apache.hadoop.fs.FileSystem, src: Path,
      pattern: String, recursive: Boolean = false): Array[FileStatus] =
    if (!recursive)
      fs.globStatus(new Path(src, pattern)) match {
        case null => Array.empty[FileStatus]
        case a => a.filter(st => st.isFile &&
          !st.getPath.getName.startsWith(".") &&
          !st.getPath.getName.startsWith("_"))
      }
    else {
      // recursive landings (hive-partitioned dt=.../... trees): the
      // PATTERN matches the file NAME; hidden path segments anywhere
      // under the root exclude the file (staging dirs, _SUCCESS)
      val matcher = java.nio.file.FileSystems.getDefault
        .getPathMatcher(s"glob:$pattern")
      val rootUri = fs.makeQualified(src).toString.stripSuffix("/")
      val out = Array.newBuilder[FileStatus]
      val it = fs.listFiles(src, true)
      while (it.hasNext) {
        val st = it.next()
        val rel = fs.makeQualified(st.getPath).toString
          .stripPrefix(rootUri).stripPrefix("/")
        val segs = rel.split('/')
        // a k=v segment is a PARTITION dir, never hidden — the null
        // partition renders as k=__HIVE_DEFAULT_PARTITION__ and must
        // still be discovered
        val hidden = segs.exists(s0 =>
          (s0.startsWith(".") || s0.startsWith("_")) && !s0.contains('='))
        if (st.isFile && !hidden &&
          matcher.matches(java.nio.file.Paths.get(st.getPath.getName)))
          out += st
      }
      out.result()
    }

  /** Load the not-yet-loaded files matching `srcDir`/`pattern` into
    * `table`. `format`: parquet | csv | json (Spark's readers; the
    * table's CURRENT schema is imposed, so csv/json need no
    * inference pass and every format null-fills absent columns).
    * `options` pass through to the reader (e.g. `header` for csv). */
  def run(spark: SparkSession, table: TxTable, srcDir: String,
      format: String = "parquet", pattern: String = "*",
      options: Map[String, String] = Map.empty,
      maxAttempts: Int = 8): Result = {
    require(Set("parquet", "csv", "json").contains(format),
      s"COPY INTO supports parquet|csv|json, got '$format'")
    val src = new Path(srcDir)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(src), s"COPY INTO source $srcDir does not exist")
    val files = listSource(fs, src, pattern)
    table.createIfAbsent()
    val schema = table.currentSchema
    var attempt = 0
    while (true) {
      attempt += 1
      val before = ledger(table)
      val fresh = files.filter(st => !before(fingerprint(st))).sortBy(_.getPath.toString)
      if (fresh.isEmpty)
        return Result(0, files.length, 0L, table.currentVersion)
      val paths = fresh.map(_.getPath.toString)
      val reader = spark.read.format(format).options(options).schema(schema)
      val df = reader.load(paths: _*)
        .select(schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
      val after = encode(before ++ fresh.map(fingerprint))
      // the row count comes from the STAGED files' footer stats
      // (appendIfCounted) — one source read total; a pre-count()
      // here would read every incoming file twice, and could
      // disagree with the staged bytes if a file is replaced mid-run
      val won = table.appendIfCounted(df, Map(MetaKey -> after)) { snap =>
        // CAS on the ledger: a concurrent copy that landed first
        // changes it, and this attempt must recompute freshness
        snap.meta(MetaKey).map(decode).getOrElse(Set.empty) == before
      }
      won match {
        case Some((version, rows)) =>
          // the version THIS load committed, straight from the commit
          // — re-reading currentVersion here would race a concurrent
          // writer and misreport where the load landed
          return Result(fresh.length, files.length - fresh.length, rows,
            version)
        case None => // lost the CAS - recompute freshness and retry
      }
      require(attempt < maxAttempts,
        s"COPY INTO lost the ledger CAS $maxAttempts times - a copy " +
          "storm on this table; re-run")
    }
    sys.error("unreachable")
  }
}
