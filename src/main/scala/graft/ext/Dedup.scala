package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for LLM training-data pipelines (north-star
  * extension; SURVEY §2.11 X2/X3). Scale discipline: pair generation
  * ALWAYS goes through a bucketing stage (MinHash bands / SimHash
  * pigeonhole blocks) — shuffle on bucket key, never a cross join —
  * so the candidate set stays near-linear at 100 TB.
  *
  * All hashing is md5/byte-arithmetic expressible in plain SQL, so
  * results are engine-portable (DuckDB oracle parity) and stable
  * across Spark versions.
  */
object Dedup {

  /** Lowercase word array of a text column. SCOPE: `[a-z]+` runs only
    * — a doc with none (CJK/Cyrillic scripts, digits-only) yields an
    * EMPTY array and carries zero signal for every word-based
    * signature below; such docs are excluded from candidates and
    * REPORTED (see the `EmptyWordSet` ledger row), never silently
    * paired. Non-Latin corpora need a script-aware tokenizer here. */
  def words(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))

  /** Ledger sig marker for docs excluded because [[words]] found no
    * tokens (see [[lshCandidatePairsWithStats]]'s `dropped`). */
  val EmptyWordSet = "EMPTY_WORDSET"

  /** Salted MinHash: one band value = min over words of md5("salt:w").
    * String-lexicographic min is portable across engines. Native
    * streaming expression (see [[graft.functions.MinSaltedMd5]]) —
    * value-identical to `array_min(transform(ws, w -> md5(salt:w)))`. */
  def minhashBand(ws: Column, salt: Int): Column =
    graft.functions.MinHashFunctions.min_salted_md5(ws, lit(salt.toString))

  /** MinHash band signatures: adds `band0..band{n-1}`. */
  def withMinhashBands(df: DataFrame, ws: Column, nBands: Int): DataFrame =
    (0 until nBands).foldLeft(df)((acc, i) =>
      acc.withColumn(s"band$i", minhashBand(ws, i)))

  /** Candidate pairs plus the recall ledger: `dropped` lists every
    * bucket the cap excluded, with its size — a caller (or an ops
    * dashboard at 100 TB) can alert on `dropped` volume or re-run the
    * oversized buckets with more bands. Nothing is silently lost. */
  final case class CandidateStats(pairs: DataFrame, dropped: DataFrame)

  /** X2 — LSH candidate pairs: ids sharing ANY band value. Long-format
    * explode → shuffle on (band, sig) → within-bucket pairing with a
    * bucket-size cap (oversized buckets are degenerate — near-identical
    * boilerplate — and are REPORTED in `dropped`, never silently
    * filtered). */
  def lshCandidatePairsWithStats(df: DataFrame, idCol: String, textCol: String,
      nBands: Int, maxBucket: Int = 1000): CandidateStats = {
    val tokenized =
      df.select(col(idCol).as("_id"), words(col(textCol)).as("_ws"))
    val withBands = withMinhashBands(
      tokenized.filter(size(col("_ws")) > 0), col("_ws"), nBands)
    // explode, not a per-band union: one scan instead of nBands scans
    val long = withBands
      .select(col("_id"), explode(array((0 until nBands).map(i =>
        struct(lit(i).as("band"), col(s"band$i").as("sig"))): _*)).as("e"))
      .select(col("e.band").as("band"), col("e.sig").as("sig"), col("_id"))
    // materialized ONCE (corpus × nBands rows of (band, sig, id, n)):
    // three consumers (both candidate-join sides and the recall
    // ledger) would otherwise each re-run tokenize + minhash bands +
    // explode + the bucket-size window (r21, guide §1.2/§5)
    val sized = long
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("band", "sig")))
      .localCheckpoint(true)
    val bucketed = sized.filter(col("_n") <= maxBucket)
    // the recall ledger also reports docs with NO word tokens (their
    // null band signatures would silently never join otherwise)
    val emptyDocs = tokenized.filter(size(col("_ws")) === 0)
      .agg(count(lit(1)).as("size"))
      .select(lit(-1).as("band"), lit(EmptyWordSet).as("sig"), col("size"))
      .filter(col("size") > 0)
    val dropped = sized.filter(col("_n") > maxBucket)
      .groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("size"))
      .unionByName(emptyDocs)
    val a = bucketed.select(col("band"), col("sig"), col("_id").as("id_a"))
    val b = bucketed.select(col("band"), col("sig"), col("_id").as("id_b"))
    val pairs = a.join(b, Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    CandidateStats(pairs, dropped)
  }

  /** Pairs-only view of [[lshCandidatePairsWithStats]]; use the stats
    * variant when the recall ledger matters (it always does at scale). */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      nBands: Int, maxBucket: Int = 1000): DataFrame =
    lshCandidatePairsWithStats(df, idCol, textCol, nBands, maxBucket).pairs

  /** X2 — EXACT set-similarity self-join by prefix filtering (the
    * AllPairs / PPJoin recipe: Chaudhuri, Ganti & Kaushik, ICDE'06;
    * Bayardo, Ma & Srikant, WWW'07): every pair with word-set Jaccard
    * ≥ num/den is returned — no LSH recall loss, no recall ledger to
    * audit, and still no all-pairs join anywhere.
    *
    * The filter: order the vocabulary by (document frequency asc,
    * token asc) — a TOTAL order computed once per corpus — and block
    * each document on only its first p = |s| − o* + 1 tokens in that
    * order, where o* = ⌈t·|s|⌉ is the smallest overlap any qualifying
    * partner can have (J ≥ t ⟹ |a∩b| ≥ t·|a| for both sides). Two
    * documents whose prefixes share no token overlap in at most
    * o* − 1 tokens, so every true pair survives blocking; candidates
    * then verify with an EXACT integer comparison
    * (inter·den ≥ num·union — no floating-point boundary for engines
    * to disagree on). o* itself is exact integer arithmetic
    * ((sz·num + den − 1) DIV den): a double `ceil(t·sz)` can round UP
    * past the true ceiling (0.6·5 = 3.0000000000000004) and silently
    * SHORTEN a prefix below the soundness bound.
    *
    * Scale shape (100 TB): candidate buckets are keyed by PREFIX
    * tokens — a stop-word enters a document's prefix only when it is
    * among that document's (|s| − o* + 1) globally-rarest tokens, so
    * the ubiquitous tokens that explode a naive token-blocking join
    * almost never become bucket keys (rarest-first ordering is what
    * makes the recipe work, not just correct). The vocabulary
    * frequency pass is one partial-aggregating groupBy; the per-doc
    * rarest-first sort is a within-row `array_sort`, never a global
    * sort; the hottest residual bucket is bounded by the true near-dup
    * cluster size — quadratic OUTPUT no exact scheme avoids. */
  def prefixJaccardJoin(df: DataFrame, idCol: String, textCol: String,
      num: Int, den: Int): DataFrame = {
    require(num > 0 && den > 0 && num < den,
      s"threshold num/den must be a rational in (0, 1); got $num/$den")
    // tokenized once (localCheckpoint): THREE subtrees consume the
    // word sets (the token census feeding the frequency order, the
    // prefix expansion, and the verify join) and each would otherwise
    // re-run the regexp tokenize + explode over the corpus (r21,
    // guide §1.2 — materialize what is recomputed, linear in corpus)
    val sets = df.select(col(idCol).as("_id"),
        array_distinct(words(col(textCol))).as("_set"))
      .filter(size(col("_set")) > 0)
      .localCheckpoint(true)
    val toks = sets.select(col("_id"), size(col("_set")).as("_sz"),
      explode(col("_set")).as("_tok"))
    val freq = toks.groupBy("_tok").agg(count(lit(1)).as("_df"))
    // rarest-first per-doc ordering; prefix length from the EXACT
    // integer minimal-overlap bound o* = ceil(sz * num / den)
    val ordered = toks.join(freq, Seq("_tok"))
      .groupBy(col("_id"), col("_sz"))
      .agg(array_sort(collect_list(struct(col("_df"), col("_tok"))))
        .as("_ord"))
      .withColumn("_p",
        expr(s"CAST(_sz - ((_sz * $num + ${den - 1}) DIV $den) + 1 AS INT)"))
    val pref = ordered
      .select(col("_id"), explode(slice(col("_ord"), lit(1), col("_p"))).as("_e"))
      .select(col("_e._tok").as("_tok"), col("_id"))
    val cand = pref.select(col("_tok"), col("_id").as("id_a"))
      .join(pref.select(col("_tok"), col("_id").as("id_b")), Seq("_tok"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val sized = sets.select(col("_id"), col("_set"),
      size(col("_set")).cast(LongType).as("_n"))
    cand
      .join(sized.select(col("_id").as("id_a"), col("_set").as("_set_a"),
        col("_n").as("_n_a")), Seq("id_a"))
      .join(sized.select(col("_id").as("id_b"), col("_set").as("_set_b"),
        col("_n").as("_n_b")), Seq("id_b"))
      .withColumn("n_inter",
        size(array_intersect(col("_set_a"), col("_set_b"))).cast(LongType))
      .withColumn("n_union", col("_n_a") + col("_n_b") - col("n_inter"))
      // integer-exact threshold: J >= num/den  ⟺  inter*den >= num*union
      .filter(col("n_inter") * den >= col("n_union") * num)
      .withColumn("jaccard",
        col("n_inter").cast(DoubleType) / col("n_union").cast(DoubleType))
      .select("id_a", "id_b", "n_inter", "n_union", "jaccard")
  }

  /** Component labels plus convergence evidence: `converged` is false
    * when the label propagation hit `maxIter` with changes pending —
    * the labels are then a valid PARTIAL merge (over-split, never
    * over-merged), and the caller must decide to iterate further or
    * fail. */
  final case class CcResult(components: DataFrame, converged: Boolean,
      iterations: Int)

  /** Connected components over an undirected edge list by iterative
    * min-label propagation (SURVEY §2.11 X2: near-dup GROUPS, not just
    * pairs): each node adopts the smallest label among itself and its
    * neighbours until fixpoint. Iterations ≈ graph diameter — near-dup
    * clusters are tiny and dense, so a handful of joins suffices; each
    * iteration is a shuffle on node id.
    *
    * Lineage discipline for long chains: every iteration's labels are
    * cached and the superseded generation unpersisted; every
    * `checkpointEvery` iterations the lineage is truncated with an
    * eager `localCheckpoint` (otherwise the plan doubles per iteration
    * and the driver OOMs on analysis long before the data is big). The
    * convergence probe reads the just-materialized generation, so it
    * costs a cache scan, not a recompute. */
  def connectedComponentsWithStats(pairs: DataFrame, maxIter: Int = 10,
      checkpointEvery: Int = 5): CcResult = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    var prevCached: Option[DataFrame] = None
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels, edges("dst") === labels("id"))
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nlabel"))
      val stepped = labels.join(neighborMin, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label")))
            .as("label"),
          (coalesce(col("nlabel"), col("label")) < col("label"))
            .as("_changed"))
      val next =
        if ((i + 1) % checkpointEvery == 0) stepped.localCheckpoint(true)
        else { val c = stepped.cache(); c.count(); c }
      converged = next.filter(col("_changed")).limit(1).isEmpty
      prevCached.foreach(_.unpersist())
      prevCached = if ((i + 1) % checkpointEvery == 0) None else Some(next)
      labels = next.drop("_changed")
      i += 1
    }
    if (!converged)
      org.apache.log4j.Logger.getLogger(getClass).warn(
        s"connectedComponents: not converged after $maxIter iterations; " +
          "labels are over-split — raise maxIter")
    CcResult(labels.withColumnRenamed("label", "component"), converged, i)
  }

  /** Labels-only view of [[connectedComponentsWithStats]] (logs a
    * warning when the fixpoint wasn't reached). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10): DataFrame =
    connectedComponentsWithStats(pairs, maxIter).components

  /** INCREMENTAL connected components — fold one ingest batch's
    * near-dup pairs into persisted component labels without touching
    * the corpus: the batch's pairs fold into the standing labels
    * without re-clustering it.
    *
    * `labels` is the standing (id, component) table where component =
    * min reachable id — exactly [[connectedComponents]]' output, so
    * every component's label node carries a (label, label) row.
    * Each new edge endpoint maps to its current representative
    * (its component label, or itself if unseen); edges whose endpoints
    * already share a representative vanish; the survivors form a
    * CONDENSED graph over representatives whose size is bounded by the
    * batch, never the corpus. Min-label propagation runs on that
    * condensed graph only, and the resulting (old label → merged
    * label) mapping — batch-bounded, broadcastable — relabels exactly
    * the components the batch touched. Old labels are component
    * minima, so the condensed minimum IS the global minimum: the
    * result is row-identical to a full recompute over all pairs ever
    * seen (spec-proven differentially).
    *
    * Scale shape (100 TB): the corpus-sized `labels` table is read
    * once and joined map-side against two batch-bounded broadcasts
    * (the touched-node lookup and the relabel mapping); the iterative
    * propagation — the expensive, shuffle-per-iteration part — runs on
    * the condensed batch graph alone. With labels in a bucketed
    * TxTable the rewrite touches only buckets holding relabeled rows. */
  def incrementalComponents(labels: DataFrame, newPairs: DataFrame,
      maxIter: Int = 10): CcResult = {
    val nodes = newPairs.select(col("id_a").as("id"))
      .unionByName(newPairs.select(col("id_b").as("id"))).distinct()
    val repr = nodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("_repr"))
    val condensed = newPairs
      .join(repr.select(col("id").as("id_a"), col("_repr").as("_ra")),
        Seq("id_a"))
      .join(repr.select(col("id").as("id_b"), col("_repr").as("_rb")),
        Seq("id_b"))
      .filter(col("_ra") =!= col("_rb"))
      .select(least(col("_ra"), col("_rb")).as("id_a"),
        greatest(col("_ra"), col("_rb")).as("id_b"))
      .distinct()
    val cc = connectedComponentsWithStats(condensed, maxIter)
    val mapping = cc.components
      .select(col("id").as("_from"), col("component").as("_to"))
    // relabel the touched components (old reprs are labels in `labels`,
    // including each component's own (label, label) row)
    val relabeled = labels
      .join(broadcast(mapping), labels("component") === col("_from"), "left")
      .select(labels("id"),
        coalesce(col("_to"), labels("component")).as("component"))
    // new nodes enter with their condensed-graph label; every new node
    // survives into the condensed graph (its repr is itself, and
    // id_a =!= id_b), so the mapping covers it
    val newRows = mapping
      .join(labels.select(col("id")), mapping("_from") === labels("id"),
        "left_anti")
      .select(col("_from").as("id"), col("_to").as("component"))
    CcResult(relabeled.unionByName(newRows), cc.converged, cc.iterations)
  }

  /** Portable 16-bit SimHash over a named word-array column: bit b of
    * md5(w) votes ±1; sign of the vote sum sets bit b. Hex-char
    * arithmetic only — identical in Spark SQL and DuckDB.
    *
    * Each word is hashed ONCE into a 16-bit int (char c is the c-th
    * most significant nibble, so bit b of the original per-char layout
    * is bit 15-b of the int); the 16-bit vote loop then runs on ints —
    * 16× fewer md5 calls than the per-bit formulation. */
  def simhash16(wsCol: String): Column =
    expr(
      s"""aggregate(
         | transform($wsCol, w ->
         |   aggregate(sequence(0, 3), 0, (hv, p) ->
         |     hv * 16 + instr('0123456789abcdef',
         |       substr(md5(w), 1 + p, 1)) - 1)),
         | array_repeat(0, 16),
         | (acc, v) -> transform(sequence(0, 15), b ->
         |   element_at(acc, b + 1) + 2 * ((v >> (15 - b)) & 1) - 1),
         | votes -> aggregate(sequence(0, 15), 0L, (acc2, b) ->
         |   acc2 + CASE WHEN element_at(votes, b + 1) > 0
         |     THEN shiftleft(1L, b) ELSE 0L END))""".stripMargin)

  /** Hamming distance between two SimHash values. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** X2 — SimHash near-dup pairs with pigeonhole blocking: split the
    * 16 bits into `maxHamming + 1` blocks; any pair within the
    * distance budget must agree on at least one whole block, so
    * blocking on each block in turn finds all pairs without a cross
    * join (shuffle key = block value). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    val nBlocks = maxHamming + 1
    val bits = 16
    val blockSize = bits / nBlocks
    val sims = df
      .withColumn("_ws", array_distinct(words(col(textCol))))
      // zero-signal docs all hash to _sh = 0 and would be declared
      // mutual near-dups of each other — exclude them (see [[words]])
      .filter(size(col("_ws")) > 0)
      .select(col(idCol).as("_id"), simhash16("_ws").as("_sh"))
      // the signature table IS persisted (localCheckpoint, id + 16-bit
      // hash per doc): both self-join sides read it — without it the
      // tokenize + simhash fold runs twice over the corpus (r21)
      .localCheckpoint(true)
    // explode into (block, value) rows in one scan
    val blockCols = (0 until nBlocks).map { j =>
      val lo = j * blockSize
      val width = if (j == nBlocks - 1) bits - lo else blockSize
      val mask = (1L << width) - 1
      struct(lit(j).as("blk"),
        shiftright(col("_sh"), lo).bitwiseAND(lit(mask)).as("blkval"))
    }
    val blocks = sims
      .select(col("_id"), col("_sh"), explode(array(blockCols: _*)).as("e"))
      .select(col("e.blk").as("blk"), col("e.blkval").as("blkval"),
        col("_id"), col("_sh"))
    val a = blocks.select(col("blk"), col("blkval"),
      col("_id").as("id_a"), col("_sh").as("sh_a"))
    val b = blocks.select(col("blk"), col("blkval"),
      col("_id").as("id_b"), col("_sh").as("sh_b"))
    a.join(b, Seq("blk", "blkval"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SUB-document dedup at fixed word-window granularity (the
    * training-data recipe popularized by "Deduplicating Training Data
    * Makes Language Models Better": document-level dedup misses
    * boilerplate and templated spans repeated ACROSS distinct
    * documents). Each document is cut into consecutive
    * `windowWords`-word chunks; a chunk instance survives iff it is
    * the GLOBAL first occurrence of its text — first = smallest
    * (id, position), an explicit precedence rule, never partition
    * order. Survivors are
    * reassembled in document order.
    *
    * Returns (id, n_chunks, n_kept, text_dedup) — one row per input
    * document; a fully-duplicated document keeps n_kept = 0 and an
    * empty string (callers typically drop those).
    *
    * Scale shape (100 TB): one explode (rows ≈ words/W), a
    * `groupBy(chunk).agg(min(struct(id, idx)))` to pick each chunk's
    * global first occurrence — min is PARTIAL-aggregable, so the
    * ubiquitous boilerplate chunk this operator exists to catch
    * collapses to one row per map task BEFORE the shuffle (a
    * `row_number` window here would instead send every occurrence of
    * the hottest chunk to a single reducer) — then a join back keyed
    * on the full (chunk, id, idx) TRIPLE, so occurrences of a hot
    * chunk spread across join partitions by their distinct (id, idx),
    * and one groupBy(id) to reassemble. No self-join, no all-pairs
    * anything. */
  def windowChunkDedup(df: DataFrame, idCol: String, textCol: String,
      windowWords: Int = 10): DataFrame = {
    require(windowWords > 0, "windowWords must be positive")
    val w = windowWords
    val ws = split(col(textCol), " ")
    val lastChunk = ((size(ws) - 1) / w).cast(IntegerType)
    val chunks = transform(sequence(lit(0), lastChunk),
      i => struct(i.as("idx"),
        array_join(slice(ws, i * w + 1, lit(w)), " ").as("chunk")))
    val exploded = df
      .filter(length(col(textCol)) > 0)
      .select(col(idCol), explode(chunks).as("e"))
      .select(col(idCol), col("e.idx").as("_cidx"),
        col("e.chunk").as("_chunk"))
    // global first occurrence per chunk text; min(struct) compares
    // (id, idx) lexicographically — explicit precedence, never
    // partition order
    val winners = exploded
      .groupBy(col("_chunk").as("_wchunk"))
      .agg(min(struct(col(idCol), col("_cidx"))).as("_first"))
      .select(col("_wchunk"),
        col("_first").getField(idCol).as("_wid"),
        col("_first").getField("_cidx").as("_widx"))
    exploded
      .join(winners,
        col("_chunk") === col("_wchunk") &&
          col(idCol) === col("_wid") && col("_cidx") === col("_widx"),
        "left")
      .withColumn("_keep", col("_wid").isNotNull)
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("_keep"), 1)).as("n_kept"),
        coalesce(array_join(transform(
          array_sort(collect_list(when(col("_keep"),
            struct(col("_cidx"), col("_chunk"))))),
          x => x.getField("_chunk")), " "), lit(""))
          .as("text_dedup"))
  }
}
