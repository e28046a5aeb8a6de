package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted INVERTED TEXT INDEX: term → document postings, laid out
  * so a search query never scans the corpus (the [[AnnIndex]] /
  * [[IvfIndex]] layout-as-index recipe applied to P6 text search —
  * `p6_text_search` LIKE-scans every text; at 100 TB that is the
  * wrong plan for repeated search workloads).
  *
  * Layout: postings (term, id) partitioned by `tb = hash(term) mod
  * nBuckets` directories — a FIXED directory fan-out (a `term=`
  * partition per distinct term would create millions of directories),
  * with each bucket's files SORTED by term so parquet row-group
  * min/max stats + dictionary filtering prune within the bucket.
  *
  * Probe: the query terms' buckets are computed DRIVER-SIDE with the
  * same Murmur3(seed 42) Spark's `hash()` writes with (the
  * [[graft.core.TxTable.lookup]] technique), so `tb IN (...)`
  * becomes `PartitionFilters` — planning-time pruning to ≤ one
  * directory per query term — and `term IN (...)` pushes to the
  * parquet scan. A k-term query reads ~k/nBuckets of the postings and
  * ZERO document texts.
  */
object TextIndex {

  /** Driver-side twin of `pmod(hash(term), nBuckets)`. */
  private def termBucket(term: String, nBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    math.floorMod(
      Murmur3Hash(Seq(Literal(term)), 42).eval(null).asInstanceOf[Int],
      nBuckets)
  }

  private def postingsOf(docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame =
    docs.select(col(idCol),
      explode(array_distinct(Dedup.words(col(textCol)))).as("term"))
      .withColumn("tb", pmod(hash(col("term")), lit(nBuckets)))

  /** Shared postings writer for the word and trigram modes: bucket
    * directories, term-sorted files (row-group min/max + dictionary
    * pruning within a bucket), and the nBuckets sidecar. */
  private def writePostings(postings: DataFrame, idCol: String,
      dir: String, nBucketsForMeta: Int): Unit = {
    postings
      .repartition(col("tb"))
      .sortWithinPartitions("term", idCol)
      .write.mode("overwrite")
      .partitionBy("tb").parquet(s"$dir/data")
    val spark = postings.sparkSession
    import spark.implicits._
    Seq(nBucketsForMeta).toDF("n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** One corpus pass: distinct (doc, term) postings → bucket-partitioned,
    * term-sorted parquet + an nBuckets sidecar. */
  def build(docs: DataFrame, idCol: String, textCol: String, dir: String,
      nBuckets: Int = 64): Unit =
    writePostings(postingsOf(docs, idCol, textCol, nBuckets), idCol,
      dir, nBuckets)

  def nBuckets(spark: SparkSession, dir: String): Int =
    StoreRead.parquet(spark, s"$dir/meta").head.getInt(0)

  /** Postings of `terms`: (term, id) rows, partition-pruned to the
    * terms' buckets and term-filtered at the scan. */
  def postings(spark: SparkSession, dir: String, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "at least one search term")
    val n = nBuckets(spark, dir)
    val buckets = terms.map(termBucket(_, n)).distinct
    StoreRead.parquet(spark, s"$dir/data")
      .filter(col("tb").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
      .drop("tb")
  }

  /** Ids whose document contains EVERY term (AND — intersection of
    * postings via count-distinct, one shuffle on id). */
  def searchAll(spark: SparkSession, dir: String, idCol: String,
      terms: Seq[String]): DataFrame =
    postings(spark, dir, terms.distinct)
      .groupBy(idCol)
      .agg(countDistinct("term").as("_nt"))
      .filter(col("_nt") === terms.distinct.size)
      .drop("_nt")

  // ---- trigram index: arbitrary substring (LIKE '%p%') search ----

  /** Build the trigram index (the pg_trgm recipe): postings of every
    * distinct lowercase char-3-gram under the same `tb=hash(tg)`
    * bucket layout as the word index. A document containing substring
    * P contains every trigram of P, so trigram-postings intersection
    * yields a SOUND candidate superset for any pattern ≥ 3 chars. */
  private def trigramPostingsOf(docs: DataFrame, idCol: String,
      textCol: String, nBuckets: Int): DataFrame = {
    val lt = lower(col(textCol))
    val tgs = array_distinct(when(length(lt) >= 3,
      expr(s"transform(sequence(1, length(lower($textCol)) - 2), " +
        s"i -> substring(lower($textCol), i, 3))")).otherwise(array()))
    docs.select(col(idCol), explode(tgs).as("term"))
      .withColumn("tb", pmod(hash(col("term")), lit(nBuckets)))
  }

  def buildTrigram(docs: DataFrame, idCol: String, textCol: String,
      dir: String, nBuckets: Int = 64): Unit =
    writePostings(trigramPostingsOf(docs, idCol, textCol, nBuckets), idCol,
      dir, nBuckets)

  // ---- positional index: exact PHRASE search in postings space ----

  private def positionalPostingsOf(docs: DataFrame, idCol: String,
      textCol: String, nBuckets: Int): DataFrame =
    docs.select(col(idCol),
      posexplode(Dedup.words(col(textCol))).as(Seq("pos", "term")))
      .withColumn("tb", pmod(hash(col("term")), lit(nBuckets)))

  /** Per-document token counts — the ranking sidecar `buildPositional`
    * writes alongside the postings: BM25's length normalization needs
    * |d| and avgdl, and deriving them at probe time would read every
    * postings bucket (the full corpus) per query. One (id, len) row
    * per document, computed from the same tokenizer as the postings. */
  private def docStatsOf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol),
      size(Dedup.words(col(textCol))).cast("long").as("len"))

  /** Build the POSITIONAL index: (doc, term, word-position) postings
    * under the same `tb = hash(term)` bucket layout, plus the (id,
    * len) doc-stats sidecar for ranked retrieval. Positions make
    * phrase queries a pure postings computation — no document text is
    * ever read, not even for a verify step. */
  def buildPositional(docs: DataFrame, idCol: String, textCol: String,
      dir: String, nBuckets: Int = 64): Unit = {
    writePostings(positionalPostingsOf(docs, idCol, textCol, nBuckets),
      idCol, dir, nBuckets)
    docStatsOf(docs, idCol, textCol)
      .write.mode("overwrite").parquet(s"$dir/docstats")
  }

  /** BM25-RANKED retrieval served entirely from the positional index
    * (the Okapi BM25 formula, the published probabilistic-retrieval
    * standard): score(d) = Σ_t IDF(t) · tf·(k1+1) / (tf + k1·(1 − b +
    * b·|d|/avgdl)), IDF = ln((N − df + ½)/(df + ½) + 1).
    *
    * Scale shape: tf comes from the partition-pruned postings probe
    * (≤ one bucket directory per query term — the corpus text is
    * never read); df is a tiny per-term aggregate of the same probe,
    * broadcast; |d| joins in from the doc-stats sidecar (doc-count
    * rows, semi-reduced by the candidates); N and avgdl are two
    * collected scalars. The only corpus-sized object anywhere is the
    * sidecar join — the classic ranked-retrieval shape.
    *
    * Determinism: both engines compute the formula in IEEE double and
    * the output (and the top-k CUT) order by the 6-decimal ROUNDED
    * score with an id tie-break — ULP-level ln/division divergence
    * between engines sits ~9 orders of magnitude below the rounding
    * quantum, so ordering and hashes agree. */
  def bm25Search(spark: SparkSession, dir: String, idCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val qs = terms.map(_.toLowerCase).distinct
    require(qs.nonEmpty, "bm25Search needs at least one term")
    require(k >= 1, "k must be >= 1")
    val stats = StoreRead.parquet(spark, s"$dir/docstats")
    val g = stats.agg(count(lit(1)).as("n"),
      coalesce(sum("len"), lit(0L)).as("total")).head
    val nDocs = g.getLong(0)
    require(nDocs > 0L, "empty doc-stats sidecar")
    val avgdl = g.getLong(1).toDouble / nDocs
    val tf = postings(spark, dir, qs)
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term")
      .agg(countDistinct(col(idCol)).as("df"))
    val idf = log((lit(nDocs.toDouble) - col("df") + 0.5) /
      (col("df") + 0.5) + 1.0)
    val norm = col("tf") + lit(k1) *
      (lit(1.0 - b) + lit(b) * col("len") / lit(avgdl))
    tf.join(broadcast(dfreq), "term")
      .join(stats, idCol)
      .withColumn("_s", idf * col("tf") * lit(k1 + 1.0) / norm)
      .groupBy(col(idCol))
      .agg(round(sum("_s"), 6).as("score"))
      .orderBy(desc("score"), asc(idCol))
      .limit(k)
  }

  /** Ids whose document contains the words of `phrase` CONSECUTIVELY
    * (exact token-adjacent phrase match). Each term's postings anchor
    * to `pos - i` (its offset in the phrase); a document matches where
    * some anchor collects ALL phrase offsets — one partition-pruned
    * postings scan and ONE shuffle on (id, anchor), never a self-join
    * chain and never a text read. Repeated phrase words work: a single
    * posting row legitimately serves several offsets. */
  def phraseSearch(spark: SparkSession, dir: String, idCol: String,
      phrase: String): DataFrame = {
    val terms = phrase.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).toSeq
    require(terms.nonEmpty, s"phrase '$phrase' has no indexable words")
    val base = postings(spark, dir, terms.distinct)
    val anchored = terms.zipWithIndex.map { case (t, i) =>
      base.filter(col("term") === t)
        .select(col(idCol), (col("pos") - i).as("_anchor"), lit(i).as("_off"))
    }.reduce(_ unionByName _)
    anchored
      .groupBy(col(idCol), col("_anchor"))
      .agg(countDistinct("_off").as("_n"))
      .filter(col("_n") === terms.length)
      .select(idCol).distinct()
  }

  /** Ids whose document contains `termA` and `termB` within `slop`
    * word positions of each other (unordered NEAR/k search), served
    * ENTIRELY from the positional index. Scale shape: a naive
    * per-document position join is a range join (cross-product of the
    * two terms' occurrence lists per doc); instead positions are
    * quantized into `slop`-wide windows and termA's postings probe its
    * own window ± 1 — a pure EQUI-join on (id, window) whose 3×
    * fan-out is constant, followed by the exact |pa−pb| ≤ slop verify
    * on the few co-windowed pairs. Any qualifying pair differs by at
    * most `slop`, so it lands in the same or an adjacent window — the
    * candidate set is a sound superset. No text is ever read. */
  def proximitySearch(spark: SparkSession, dir: String, idCol: String,
      termA: String, termB: String, slop: Int): DataFrame = {
    require(slop >= 1, s"slop must be >= 1, got $slop")
    val a = termA.toLowerCase; val b = termB.toLowerCase
    val base = postings(spark, dir, Seq(a, b).distinct)
    def winOf(pos: Column): Column = floor(pos / lit(slop)).cast("long")
    val pa = base.filter(col("term") === a)
      .select(col(idCol), col("pos").as("pa"))
      .withColumn("win", explode(array(winOf(col("pa")) - 1,
        winOf(col("pa")), winOf(col("pa")) + 1)))
    val pb = base.filter(col("term") === b)
      .select(col(idCol), col("pos").as("pb"), winOf(col("pos")).as("win"))
    pa.join(pb, Seq(idCol, "win"))
      .filter(abs(col("pa") - col("pb")) <= slop && col("pa") =!= col("pb"))
      .select(idCol).distinct()
  }

  // ---- fuzzy index: edit-distance term expansion (SymSpell recipe) ----

  /** Spark-side delete-1 neighborhood of a string column `c` (SQL
    * expression): every string obtainable by deleting exactly one
    * character. Length-L term → L variants (duplicates possible;
    * callers `array_distinct`). */
  private def del1Expr(c: String, v: String = "i"): String =
    s"transform(sequence(1, length($c)), $v -> " +
      s"concat(substring($c, 1, $v - 1), substring($c, $v + 1, length($c))))"

  /** Driver-side twin of the Spark-side variant generation: all
    * delete-only variants of `term` with at most `depth` deletions,
    * INCLUDING the term itself. Bounded by Σ_{i≤depth} C(L, i) — a
    * handful of strings for real-world terms, never corpus-scaled. */
  private[graft] def deleteVariants(term: String, depth: Int): Seq[String] = {
    var cur = Set(term); var all = Set(term)
    for (_ <- 1 to depth) {
      cur = cur.flatMap(t => (0 until t.length)
        .map(j => t.substring(0, j) + t.substring(j + 1)))
      all ++= cur
    }
    all.toSeq.sorted
  }

  private def fuzzyMeta(spark: SparkSession, dir: String): (Int, Int) = {
    val r = StoreRead.parquet(spark, s"$dir/meta").select("n_buckets", "depth").head
    (r.getInt(0), r.getInt(1))
  }

  /** Vocabulary rows (one per distinct term) of a corpus batch,
    * exploded into (variant, term) delete-neighborhood pairs under the
    * `vb = hash(variant)` bucket layout. Depth ≤ 2 (the SymSpell
    * sweet spot — depth-d neighborhoods grow as L^d). */
  private def fuzzyPostingsOf(docs: DataFrame, textCol: String,
      nBuckets: Int, depth: Int): DataFrame = {
    require(depth == 1 || depth == 2, s"fuzzy depth must be 1 or 2, got $depth")
    val vocab = docs
      .select(explode(array_distinct(Dedup.words(col(textCol)))).as("term"))
      .distinct()
    val d1 = expr(del1Expr("term"))
    val variants = depth match {
      case 1 => array_distinct(concat(array(col("term")), d1))
      case 2 => array_distinct(concat(array(col("term")), d1,
        flatten(expr(s"transform(${del1Expr("term")}, v -> ${del1Expr("v", "j")})"))))
    }
    vocab.select(col("term"), explode(variants).as("variant"))
      .withColumn("vb", pmod(hash(col("variant")), lit(nBuckets)))
  }

  /** Build the FUZZY term index (the published SymSpell
    * deletion-neighborhood recipe): each vocabulary term is indexed
    * under every string reachable by ≤ `depth` character DELETIONS
    * (including itself), bucketed by `vb = hash(variant)`. Two terms
    * within Levenshtein distance d share a common ≤ d-deletion
    * variant (walk an optimal edit script: a substitution deletes one
    * char from EACH side, an insert/delete deletes from ONE), so a
    * probe that generates the query's own ≤ maxEdit deletions and
    * equi-looks them up sees a SOUND candidate superset — fuzzy
    * matching becomes exact hash lookups, never a vocabulary scan or
    * a similarity join. Candidates then pass an exact `levenshtein`
    * verify, so the answer is exact. */
  def buildFuzzy(docs: DataFrame, textCol: String, dir: String,
      nBuckets: Int = 64, depth: Int = 2): Unit = {
    fuzzyPostingsOf(docs, textCol, nBuckets, depth)
      .repartition(col("vb"))
      .sortWithinPartitions("variant", "term")
      .write.mode("overwrite").partitionBy("vb").parquet(s"$dir/data")
    val spark = docs.sparkSession
    import spark.implicits._
    Seq((nBuckets, depth)).toDF("n_buckets", "depth")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Vocabulary terms within Levenshtein distance ≤ `maxEdit` of each
    * of `terms` — (input, term, dist) rows from ONE index scan. Each
    * input's delete variants are generated DRIVER-SIDE (bounded:
    * Σ C(|q|, i) strings); they union into a single partition-pruned
    * probe (`vb IN (...)`, `variant IN (...)`), and
    * a broadcast (input, variant) map fans candidates back out to
    * their inputs (a query term's neighborhood is bounded, so the
    * broadcast is control-plane sized however many inputs batch).
    * Exact `levenshtein` verify on the candidates makes the expansion
    * exact (the deletion-neighborhood candidates are a sound superset
    * at maxEdit ≤ the indexed depth). */
  def fuzzyExpandAll(spark: SparkSession, dir: String, terms: Seq[String],
      maxEdit: Int): DataFrame = {
    import spark.implicits._
    val qs = terms.map(_.toLowerCase).distinct
    require(qs.nonEmpty, "at least one fuzzy term")
    val (n, depth) = fuzzyMeta(spark, dir)
    require(maxEdit >= 1 && maxEdit <= depth,
      s"maxEdit must be in [1, $depth] (indexed depth), got $maxEdit")
    val pairs = qs.flatMap(q => deleteVariants(q, maxEdit).map(v => (q, v)))
    val vars = pairs.map(_._2).distinct
    val buckets = vars.map(termBucket(_, n)).distinct
    StoreRead.parquet(spark, s"$dir/data")
      .filter(col("vb").isin(buckets: _*))
      .filter(col("variant").isin(vars: _*))
      .join(broadcast(pairs.toDF("input", "variant")), "variant")
      .select("input", "term").distinct()
      .withColumn("dist", levenshtein(col("term"), col("input")))
      .filter(col("dist") <= maxEdit)
  }

  /** Fuzzy document search: postings of every vocabulary term within
    * edit distance ≤ `maxEdit` of `term` — (id, term, dist) rows from
    * the word index at `wordDir`. */
  def fuzzySearch(spark: SparkSession, fuzzyDir: String, wordDir: String,
      idCol: String, term: String, maxEdit: Int): DataFrame =
    fuzzySearchAll(spark, fuzzyDir, wordDir, idCol, Seq(term), maxEdit)
      .select(col(idCol), col("term"), col("dist"))

  /** Batched fuzzy document search — (input, id, term, dist) rows for
    * several query terms from ONE expansion scan + ONE postings
    * probe. The expansion collects DRIVER-SIDE (bounded: the edit
    * neighborhoods of the query terms — control plane, like every
    * probe's bucket list) so the postings probe can partition-prune
    * per matched term; (input, dist) ride a broadcast of that same
    * tiny set. */
  def fuzzySearchAll(spark: SparkSession, fuzzyDir: String, wordDir: String,
      idCol: String, terms: Seq[String], maxEdit: Int): DataFrame = {
    import spark.implicits._
    val matched = fuzzyExpandAll(spark, fuzzyDir, terms, maxEdit)
      .as[(String, String, Int)].collect().toSeq
    if (matched.isEmpty)
      Seq.empty[(String, Long, String, Int)]
        .toDF("input", idCol, "term", "dist")
    else
      postings(spark, wordDir, matched.map(_._2).distinct)
        .join(broadcast(matched.toDF("input", "term", "dist")), "term")
        .select(col("input"), col(idCol), col("term"), col("dist"))
  }

  /** Exact substring search served by the trigram index: candidate ids
    * from the pattern's trigram-postings intersection (partition-pruned
    * probe, sound superset), then the candidates ALONE are verified
    * with an exact `contains` against the docs — the corpus text is
    * read only for candidate rows via the semi join. The candidate set
    * is NOT hint-broadcast: a pattern whose trigrams are all common
    * yields candidates ≈ corpus, and a forced broadcast would explode
    * at scale — AQE broadcasts small candidate sets at runtime from
    * their MEASURED size and falls back to a shuffle semi join for the
    * pathological patterns. Patterns shorter than 3 chars have no
    * trigrams; callers fall back to a scan (require fails loudly
    * rather than silently scanning). */
  def substringSearch(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String, pattern: String): DataFrame = {
    require(pattern.length >= 3,
      s"substring pattern '$pattern' too short for trigram search (< 3 chars)")
    val p = pattern.toLowerCase
    val tgs = (0 to p.length - 3).map(i => p.substring(i, i + 3)).distinct
    val cands = searchAll(spark, dir, idCol, tgs)
    docs.join(cands, Seq(idCol), "left_semi")
      .filter(contains(lower(col(textCol)), lit(p)))
  }
}
