package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import Qhelpers._

/** LLM-data-pipeline operators over `documents` and `embeddings`
  * (SURVEY.md §2.11 X1–X4 + the north-star extensions): text analysis,
  * exact/near dedup, similarity search. All designs are
  * shuffle-conscious: per-document work is embarrassingly parallel
  * (no shuffle), pair generation goes through LSH-style bucketing
  * (shuffle on band signature, never a full cross join).
  */
object TextSim {

  /** Lowercase word list of a text column (identical regex semantics in
    * Spark and DuckDB RE2: ASCII letter runs). */
  private def words(c: Column): Column =
    expr(s"regexp_extract_all(lower(${c.toString}), '[a-z]+', 0)")

  /** X4 — token counting + per-language corpus stats (tokens = \\S+ runs,
    * the whitespace tokenizer; ref north-star text analysis). */
  def x4_token_stats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("n_tokens",
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast(LongType))
      .withColumn("n_words", size(words(col("text"))).cast(LongType))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_words")).as("total_words"),
        sum(col("n_chars")).as("total_chars"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy("lang")

  /** X4 — per-document quality scoring: punctuation ratio, stopword
    * ratio, mean word length (length/punct/stopword heuristics). */
  def x4_quality_scores(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("doc_id") < 100)
      .withColumn("ws", words(col("text")))
      .withColumn("n_words", size(col("ws")).cast(LongType))
      .withColumn("n_punct",
        size(expr("regexp_extract_all(text, '[.,!?;:]', 0)")).cast(LongType))
      .withColumn("n_stop",
        size(expr("filter(ws, w -> w IN ('the','a','an','and','or','of','to','in'))"))
          .cast(LongType))
      .select(
        col("doc_id"),
        col("n_words"),
        col("n_punct"),
        col("n_stop"),
        (col("n_punct").cast(DoubleType) / col("n_chars")).as("punct_ratio"),
        (col("n_stop").cast(DoubleType) / col("n_words")).as("stop_ratio"),
        (col("n_chars").cast(DoubleType) / col("n_words")).as("chars_per_word"))
      .orderBy("doc_id")

  private val stopEn = Seq("the", "a", "and", "of", "to")
  private val stopDe = Seq("der", "die", "das", "und", "zu")
  private val stopFr = Seq("le", "la", "et", "de", "un")
  private val stopEs = Seq("el", "la", "y", "de", "un")

  private def stopCount(ws: Column, stops: Seq[String]): Column = {
    val inList = stops.map(w => s"'$w'").mkString(",")
    size(expr(s"filter(${ws.toString}, w -> w IN ($inList))")).cast(LongType)
  }

  /** X4 — language identification by stopword-profile argmax (the
    * n-gram-heuristic family; deterministic tie order en>de>fr>es),
    * reported as a confusion matrix against the labeled `lang`. */
  def x4_langid(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").withColumn("ws", words(col("text")))
      .withColumn("s_en", stopCount(col("ws"), stopEn))
      .withColumn("s_de", stopCount(col("ws"), stopDe))
      .withColumn("s_fr", stopCount(col("ws"), stopFr))
      .withColumn("s_es", stopCount(col("ws"), stopEs))
    d.withColumn("predicted",
        when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es")), "en")
          .when(col("s_de") >= greatest(col("s_fr"), col("s_es")), "de")
          .when(col("s_fr") >= col("s_es"), "fr")
          .otherwise("es"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  /** X3 — exact dedup with first-wins precedence over a simulated
    * re-crawl (ref D1 `dedupeByUrl` `src/services/scan.ts:312-321` +
    * content-hash identity D5): original corpus ∪ re-crawled subset,
    * keep the earliest (src_rank, doc_id) per content fingerprint.
    * Explicit precedence rank — never partition order. */
  def x3_exact_dedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val original = docs.withColumn("src_rank", lit(0))
    val recrawl = docs.filter(col("doc_id") < 100).withColumn("src_rank", lit(1))
    val unioned = original.unionByName(recrawl)
      .withColumn("fp", md5(col("text")))
    val w = Window.partitionBy("fp").orderBy(asc("src_rank"), asc("doc_id"))
    unioned
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("src_rank")).cast(LongType).as("n_from_recrawl"))
      .orderBy("lang")
  }

  /** X3 — SUB-document window dedup (`ext.Dedup.windowChunkDedup`):
    * 10-word chunks, global first-occurrence wins, survivors
    * reassembled in document order. Catches boilerplate repeated
    * ACROSS distinct documents, which document-level dedup cannot.
    * Uncapped: one explode + one window shuffle + one reassembly
    * groupBy. Summary projection keeps the oracle row narrow while
    * still pinning the reassembled text via its md5. */
  def x3_window_dedup(s: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.windowChunkDedup(t(s, dir, "documents"),
        "doc_id", "text", windowWords = 10)
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
        md5(col("text_dedup")).as("dedup_md5"))
      .orderBy("doc_id")

  /** X4 — bigram language-model fluency score
    * (`ext.Quality.bigramLogScore`): the KenLM-style perplexity filter
    * of training pipelines, trained on docs ≥ 250 (bigram/unigram
    * count tables — the counts ARE the model) and scoring docs < 250
    * by mean add-k-smoothed log-probability. Rounded to 6 dp (the
    * only float-order freedom is the per-doc mean, ~1 ulp). */
  def x4_lm_score(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ext.Quality.bigramLogScore(
        docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") >= 250),
        "doc_id", "text", k = 0.5)
      .select(col("doc_id"), col("n_bigrams"),
        round(col("lm_score"), 6).as("lm_score"))
      .orderBy("doc_id")
  }

  /** Salted-min-hash band value: min over words of md5(salt:word) —
    * identical string-lexicographic semantics in both engines (native
    * streaming expression, `graft.functions.MinSaltedMd5`). */
  private def minhashBand(ws: Column, salt: Int): Column =
    graft.ext.Dedup.minhashBand(ws, salt)

  /** X2 — MinHash+LSH banding: per-document 4-band signature →
    * bucket-size histogram per band (the candidate-generation stage of
    * near-dup detection at scale; pairs only ever form within a
    * bucket, never via cross join). */
  def x2_minhash_buckets(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("ws", words(col("text")))
    val withBands = (0 until 4).foldLeft(d) { (acc, i) =>
      acc.withColumn(s"band$i", minhashBand(col("ws"), i))
    }
    // explode, not a per-band union: one pass over documents
    val bands = withBands
      .select(explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"), col(s"band$i").as("sig"))): _*)).as("e"))
      .select(col("e.band").as("band"), col("e.sig").as("sig"))
    bands.groupBy("band", "sig")
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") >= 2)
      .orderBy("band", "sig")
  }

  /** X2 — n-gram (word-set) Jaccard near-dup pairs: the EXACT-VERIFY
    * demo, deliberately bounded to 60 docs because the `id_a < id_b`
    * theta join plans a BroadcastNestedLoopJoin (all-pairs). The scale
    * path is [[x2_shingle_jaccard]], which blocks through LSH buckets
    * and never forms the full pair square. */
  private def jaccardPairs60(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .filter(col("doc_id") < 60)
      .withColumn("ws", expr("array_sort(array_distinct(" +
        "regexp_extract_all(lower(text), '[a-z]+', 0)))"))
      .select(col("doc_id"), col("ws"))
    val a = d.select(col("doc_id").as("id_a"), col("ws").as("ws_a"))
    val b = d.select(col("doc_id").as("id_b"), col("ws").as("ws_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("n_inter",
        size(array_intersect(col("ws_a"), col("ws_b"))).cast(LongType))
      .withColumn("n_union",
        size(array_union(col("ws_a"), col("ws_b"))).cast(LongType))
      .withColumn("jaccard",
        col("n_inter").cast(DoubleType) / col("n_union").cast(DoubleType))
      .filter(col("jaccard") >= 0.6)
      .select("id_a", "id_b", "n_inter", "n_union", "jaccard")
  }

  def x2_jaccard_pairs(s: SparkSession, dir: String): DataFrame =
    jaccardPairs60(s, dir).orderBy("id_a", "id_b")

  /** X2 — near-dup GROUPS: connected components over the exact
    * ≥0.6-Jaccard pairs (the `ext.Dedup` min-label propagation, the
    * step that turns pairwise candidates into dedup clusters with a
    * canonical representative = min doc id). The DuckDB oracle
    * computes the same fixpoint as a recursive-CTE transitive
    * closure — sound on this bounded demo slice; at corpus scale the
    * library's checkpointed iteration is the only viable form. */
  /** Component labels are a PERSISTED artifact in a real pipeline (the
    * clustering job writes them once; curation queries read them), so
    * both CC queries serve from a build-once parquet keyed by corpus
    * identity — the iterative propagation never runs inside a probe.
    * `Bench` prebuilds it in warm-up (`build_seconds.ccidx`). */
  private[queries] def ccComponentsDir(s: SparkSession, dir: String): String =
    ExtQueries.buildOnce(dir, "documents", "ccidx-j06") { d =>
      graft.ext.Dedup.connectedComponents(jaccardPairs60(s, dir), maxIter = 20)
        .select(col("id").cast(LongType).as("doc_id"),
          col("component").cast(LongType).as("component"))
        .write.mode("overwrite").parquet(s"$d/data")
    }

  private def ccComponents(s: SparkSession, dir: String): DataFrame =
    graft.ext.StoreRead.parquet(s, s"${ccComponentsDir(s, dir)}/data")

  def x2_cc_components(s: SparkSession, dir: String): DataFrame =
    ccComponents(s, dir).orderBy("doc_id")

  /** X2 — INCREMENTALLY maintained component labels
    * (`ext.Dedup.incrementalComponents`): the same ≥0.6-Jaccard pairs
    * as `x2_cc_components`, but delivered as THREE ingest batches
    * folded into a standing labels table — each fold clusters only the
    * batch's condensed graph and relabels only touched components,
    * never re-clustering the corpus. The oracle is the one-shot
    * recursive-CTE closure over ALL pairs: incremental maintenance
    * must be invisible in the result. Persisted like the ccidx
    * artifact (the fold is the clustering job; probes read labels). */
  private[queries] def ccIncrementalDir(s: SparkSession, dir: String): String =
    ExtQueries.buildOnce(dir, "documents", "ccinc-j06") { d =>
      val pairs = jaccardPairs60(s, dir).select("id_a", "id_b")
      val empty = pairs
        .select(col("id_a").as("id"), col("id_a").as("component")).limit(0)
      val folded = (0 until 3).foldLeft(empty) { (labels, k) =>
        graft.ext.Dedup.incrementalComponents(labels,
          pairs.filter(pmod(col("id_b"), lit(3)) === k), maxIter = 20)
          .components.localCheckpoint(true)
      }
      folded.select(col("id").cast(LongType).as("doc_id"),
        col("component").cast(LongType).as("component"))
        .write.mode("overwrite").parquet(s"$d/data")
    }

  def x2_cc_incremental(s: SparkSession, dir: String): DataFrame =
    graft.ext.StoreRead.parquet(s, s"${ccIncrementalDir(s, dir)}/data").orderBy("doc_id")

  /** X2 — the END of the dedup pipeline: canonical selection. Each
    * near-dup component keeps its min-id document; documents outside
    * any component (no ≥0.6-Jaccard pair) keep themselves. Output is
    * the per-component roll-up the curation report needs: canonical
    * id, cluster size, how many duplicates were dropped. One
    * left-join of the component labels onto the slice (labels cover
    * only paired docs; singletons coalesce to themselves). */
  def x2_canonical_dedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .filter(col("doc_id") < 60).select("doc_id")
    val comp = ccComponents(s, dir)
    docs.join(comp, Seq("doc_id"), "left")
      .withColumn("canonical", coalesce(col("component"), col("doc_id")))
      .groupBy(col("canonical").cast(LongType).as("canonical"))
      .agg(count(lit(1)).as("n_members"),
        (count(lit(1)) - 1).cast(LongType).as("n_dropped"))
      .orderBy("canonical")
  }

  /** X2 — EXACT set-similarity self-join by prefix filtering
    * (`ext.Dedup.prefixJaccardJoin`, the AllPairs/PPJoin recipe):
    * every ≥ 3/5 word-set-Jaccard pair over a 240-doc slice — 4× the
    * `x2_jaccard_pairs` demo slice, because blocking on
    * globally-rarest prefix tokens replaces the all-pairs theta join.
    * The threshold is the integer rational 3/5 end to end (both
    * engines compare inter·5 ≥ union·3 — no floating-point boundary),
    * and the DuckDB oracle is the NAIVE quadratic truth: prefix
    * filtering is exact, so the scale path must reproduce it row for
    * row. `jaccard` is surfaced rounded; the cut itself is integral. */
  def x2_prefix_jaccard(s: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.prefixJaccardJoin(
      t(s, dir, "documents").filter(col("doc_id") < 240),
      "doc_id", "text", num = 3, den = 5)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("id_a", "id_b")

  /** X2 — char-3-gram shingle Jaccard over MINHASH-LSH candidate
    * pairs: the scale path end to end (blocking by shared band, never
    * a theta join over the corpus; `x2_jaccard_pairs` keeps the
    * bounded exact-verify demo). Shingles catch near-dups that word
    * sets miss (reordered words, small edits).
    *
    * Why the 120-doc cap stays: the synthetic corpus is templated —
    * at sf0.01 the UNCAPPED query returns 47k pairs with true
    * Jaccard ≥ 0.5 from 500 docs, i.e. the OUTPUT is quadratic in
    * corpus size on this data, which no candidate-generation scheme
    * can avoid (they are real near-dups, not LSH false positives).
    * The cap bounds the demo; the library path
    * (`Dedup.lshCandidatePairsWithStats` + this verify shape) is
    * uncapped and reports anything it drops.
    *
    * Shuffle-volume discipline: each doc's shingle SET is compacted to
    * 64-bit hashes BEFORE the candidate joins — 8 bytes per element
    * flat, vs ~16+ for a string element (offset+len+bytes in Tungsten
    * rows) — and Jaccard's denominator comes from the per-doc set
    * sizes (`|A| + |B| − |A∩B|`), so no union array is ever built per
    * pair. Hashing preserves the Jaccard value exactly barring 64-bit
    * collisions (the 3-gram universe is ≪ 2^32, collision odds
    * ~1e-10), which lets the DuckDB oracle verify over raw shingles —
    * same sizes, same quotient, no portable-hash coupling. */
  def x2_shingle_jaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 120)
    val pairs = graft.ext.Dedup
      .lshCandidatePairs(docs, "doc_id", "text", nBands = 4)
    val sh = docs
      .withColumn("lt", lower(col("text")))
      .select(col("doc_id"),
        expr("array_distinct(CASE WHEN length(lt) >= 3 THEN " +
          "transform(sequence(1, length(lt) - 2), i -> xxhash64(substring(lt, i, 3))) " +
          "ELSE array() END)").as("sh"))
      .withColumn("n_sh", size(col("sh")).cast(LongType))
      // shingled once (localCheckpoint): both verify-join sides read
      // this frame — without it the char-3-gram hash transform runs
      // twice over the slice (r21)
      .localCheckpoint()
    val jac = {
      val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType)
      inter / (col("n_a") + col("n_b") - inter)
    }
    pairs
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
        col("n_sh").as("n_a")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"),
        col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("_j", jac)
      .filter(col("_j") >= 0.5)
      .select(col("id_a"), col("id_b"), round(col("_j"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** X4 — BPE-ish token counting: letter runs / digit runs / single
    * punctuation marks (the shape of GPT-style pre-tokenization),
    * next to whitespace tokens, with the per-doc ratio. */
  def x4_bpe_tokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"),
        size(expr("regexp_extract_all(text, " +
          "'[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)")).cast(LongType)
          .as("n_bpe"),
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast(LongType)
          .as("n_ws"))
      .withColumn("bpe_per_ws",
        round(col("n_bpe").cast(DoubleType) / col("n_ws").cast(DoubleType), 6))
      .orderBy("doc_id")

  /** X4 — stratified sampling for a training mixture: per-language
    * keep rates (en 4/16, others 8/16) decided by the first hex char
    * of md5(doc_id) — deterministic, engine-portable, and exactly
    * reproducible at any scale (the RNG-free `sampleBy`). Map-only
    * until the per-stratum rollup. */
  def x4_stratified_sample(s: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(col("doc_id").cast(StringType)), 1, 1)
    val keep = when(col("lang") === "en", h.isin("0", "1", "2", "3"))
      .otherwise(h.isin("0", "1", "2", "3", "4", "5", "6", "7"))
    t(s, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(keep, 1L).otherwise(0L)).as("n_sampled"))
      .orderBy("lang")
  }

  /** X4 — TOKEN-BUDGET mixture sampling (the domain-mixing recipe:
    * given a total token budget and target per-language fractions,
    * derive each language's keep RATE from its available token mass
    * — rate = min(1, budget·weight / available) — then sample
    * deterministically). The decision hash is the first 4 hex chars
    * of md5(doc_id) as a uniform draw in [0, 65536): RNG-free, so
    * re-runs and re-shards keep exactly the same documents, and a
    * budget change moves the cut monotonically (a kept doc stays
    * kept when its language's budget grows). One tiny per-language
    * aggregate broadcast back; everything else map-side. Both
    * engines compute the rate in IEEE DOUBLE (the oracle casts its
    * literals explicitly — DuckDB would otherwise do DECIMAL math)
    * so the comparison boundary is bit-identical. */
  def x4_mixture_sample(s: SparkSession, dir: String): DataFrame = {
    val budget = 8000L
    val weights = Seq("en" -> 0.4, "de" -> 0.2, "es" -> 0.15,
      "fr" -> 0.15, "zh" -> 0.1)
    val docs = t(s, dir, "documents")
      .withColumn("_tok", size(split(col("text"), " ")).cast(LongType))
    val w = weights.foldLeft(lit(0.0)) { case (acc, (l, f)) =>
      when(col("lang") === l, lit(f)).otherwise(acc)
    }
    val avail = docs.groupBy("lang").agg(sum("_tok").as("_avail"))
    val rated = docs.join(broadcast(avail), Seq("lang"))
      .withColumn("_rate",
        least(lit(1.0), lit(budget.toDouble) * w / col("_avail").cast(DoubleType)))
    val u = conv(substring(md5(col("doc_id").cast(StringType)), 1, 4), 16, 10)
      .cast(LongType)
    rated
      .withColumn("_keep", u.cast(DoubleType) < col("_rate") * lit(65536.0))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("_keep"), col("_tok")).otherwise(0L)).as("tokens_kept"),
        max(round(col("_rate"), 6)).as("rate"))
      .orderBy("lang")
  }

  /** X4 — deterministic WEIGHTED sampling without replacement
    * (Efraimidis & Spirakis, IPL 2006 — the A-ES recipe): each doc
    * draws key = u^(1/w) with weight w = its token count, and the
    * sample is the top-k by key — longer documents are
    * proportionally likelier, yet the draw is RNG-free: u is the
    * first 4 md5 hex chars of doc_id mapped to (0, 1], so re-runs,
    * re-shards, and engine swaps pick exactly the same documents (the
    * x4_mixture_sample discipline extended from Bernoulli keeps to a
    * fixed-size weighted reservoir). Top-k by key is
    * TakeOrderedAndProject — a per-partition bounded heap + one
    * k-row driver merge, never a global sort; at 100 TB the reservoir
    * shape is exactly this plan. The cut orders by the ROUNDED key
    * with doc_id tiebreak so an ULP-level `pow` divergence between
    * engines cannot flip the boundary. */
  def x4_weighted_sample(s: SparkSession, dir: String): DataFrame = {
    val w = size(split(col("text"), " ")).cast(DoubleType)
    val u = (conv(substring(md5(col("doc_id").cast(StringType)), 1, 4),
      16, 10).cast(DoubleType) + 1.0) / 65536.0
    t(s, dir, "documents")
      .withColumn("n_tokens", w.cast(LongType))
      .withColumn("key", round(pow(u, lit(1.0) / w), 6))
      .select("doc_id", "lang", "n_tokens", "key")
      .orderBy(desc("key"), asc("doc_id"))
      .limit(25)
  }

  /** X4 — leak-free train/val/test split: assignment is a pure
    * function of md5(doc_id) (first hex char: 0 → val, 1 → test,
    * rest → train ≈ 14/16), so re-runs, re-shards, and incremental
    * appends can never move a document across splits. */
  def x4_split_assign(s: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(col("doc_id").cast(StringType)), 1, 1)
    t(s, dir, "documents")
      .withColumn("split",
        when(h === "0", "val").when(h === "1", "test").otherwise("train"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("split")
  }

  /** X4 — term masking (the blocklist-redaction shape of PII/boiler-
    * plate scrubbing in training pipelines): word-boundary regexp
    * replace over a driver-side term list, with the mask count per
    * doc. One projection pass — at 100 TB this is map-only. */
  def x4_mask_terms(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("doc_id") < 150)
      .select(col("doc_id"),
        size(expr("regexp_extract_all(lower(text), " +
          "'\\\\b(the|a|value|table)\\\\b', 0)")).cast(LongType)
          .as("n_masked"),
        substring(regexp_replace(lower(col("text")),
          "\\b(the|a|value|table)\\b", "[MASK]"), 1, 120).as("masked_head"))
      .orderBy("doc_id")

  /** X4 — repetition profile (degenerate-document detector): distinct-
    * word ratio and the dominant word's share per doc. Two hash
    * aggregates, both with map-side partials: (doc, word) counts, then
    * a per-doc rollup whose argmax rides a struct-MIN ((-count, word)
    * orders by count desc, word asc) — no window, so nothing ever
    * sorts the full (doc, word) stream. */
  def x4_repetition(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents")
      .filter(col("doc_id") < 150)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
    words.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").cast(LongType).as("n_words"),
        count(lit(1)).cast(LongType).as("n_distinct"),
        min(struct((-col("c")).as("nc"), col("w"), col("c").as("c"))).as("_top"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        round(col("n_distinct").cast(DoubleType) /
          col("n_words").cast(DoubleType), 6).as("distinct_ratio"),
        col("_top.w").as("top_word"),
        round(col("_top.c").cast(DoubleType) /
          col("n_words").cast(DoubleType), 6).as("top_ratio"))
      .orderBy("doc_id")
  }

  /** X1 — brute-force cosine top-k over the embedding column: the
    * exact baseline for ANN. Query vector broadcast; per-row dot
    * product in double precision; top-k via TakeOrdered (no global
    * sort). Score rounded to 6 dp for cross-engine determinism. */
  def x1_cosine_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .withColumn("e", col("embedding").cast("array<double>"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("e").as("qe"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("dot", expr(
        "aggregate(zip_with(e, qe, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"))
      .withColumn("na", sqrt(expr(
        "aggregate(e, 0D, (acc, x) -> acc + x * x)")))
      .withColumn("nq", sqrt(expr(
        "aggregate(qe, 0D, (acc, x) -> acc + x * x)")))
      .withColumn("score", round(col("dot") / (col("na") * col("nq")), 6))
      .select("vec_id", "label", "score")
      .orderBy(desc("score"), asc("vec_id"))
      .limit(20)
  }

  /** The pure-SQL-text twin of `x1_cosine_topk` through the
    * `graft_knn` table function: exact brute-force cosine top-k over
    * the embeddings parquet with no Scala entry point — same
    * broadcast-query plan, same 6-dp rounding; shares x1's oracle
    * verbatim. */
  def x1_knn_sql(s: SparkSession, dir: String): DataFrame =
    s.sql(s"SELECT * FROM graft_knn('$dir/embeddings.parquet', " +
      "'vec_id', 'embedding', 0, 20)")

  /** X1 — FILTERED vector search ("metadata WHERE + kNN", the RAG
    * retrieval ask: nearest neighbors among label ∈ {3, 7} only),
    * filter-FIRST: the metadata predicate pushes to the parquet scan
    * (`PushedFilters: In(label, ...)`) so the vector math runs on the
    * predicate's subset alone — exact by construction, which is the
    * selective-filter regime's right plan (an ANN probe + post-filter
    * can return < k survivors and must escalate probes; that regime
    * belongs to the index families when the filter is LOOSE). Oracle =
    * the same filtered brute force. */
  def x1_filtered_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .withColumn("e", col("embedding").cast("array<double>"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("e").as("qe"))
    emb.filter(col("vec_id") =!= 0 && col("label").isin(3, 7))
      .crossJoin(broadcast(q))
      .withColumn("dot", expr(
        "aggregate(zip_with(e, qe, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"))
      .withColumn("na", sqrt(expr(
        "aggregate(e, 0D, (acc, x) -> acc + x * x)")))
      .withColumn("nq", sqrt(expr(
        "aggregate(qe, 0D, (acc, x) -> acc + x * x)")))
      .withColumn("score", round(col("dot") / (col("na") * col("nq")), 6))
      .select("vec_id", "label", "score")
      .orderBy(desc("score"), asc("vec_id"))
      .limit(10)
  }

  /** X1 — kNN majority-label classification (the labeling/curation
    * shape: predict a query vector's label from its k nearest
    * neighbors' votes). Neighbor cut follows the x1 top-k discipline
    * — order by the ROUNDED cosine with id tiebreak, so both engines
    * cut the same boundary — then votes roll up per label with a
    * (votes desc, label asc) total order; row 1 is the prediction,
    * the rest is the confidence histogram. */
  def x1_knn_label(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .withColumn("e", col("embedding").cast("array<double>"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("e").as("qe"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("dot", expr(
        "aggregate(zip_with(e, qe, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"))
      .withColumn("na", sqrt(expr(
        "aggregate(e, 0D, (acc, x) -> acc + x * x)")))
      .withColumn("nq", sqrt(expr(
        "aggregate(qe, 0D, (acc, x) -> acc + x * x)")))
      .withColumn("score", round(col("dot") / (col("na") * col("nq")), 6))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(25)
      .groupBy("label")
      .agg(count(lit(1)).as("votes"))
      .orderBy(desc("votes"), asc("label"))
  }

  /** X1 — BATCH kNN classification ([[graft.ext.Similarity
    * .knnLabelBatch]]): one distributed pass labels a whole probe
    * batch (8 query vectors here) — broadcast-scored map-side,
    * per-query neighbor cut via the bounded TopK aggregator (no
    * per-query window, no driver loop), vote roll-up per (query,
    * label). The per-query confidence histogram a curation pipeline
    * emits while labeling a corpus. */
  def x1_knn_batch(s: SparkSession, dir: String): DataFrame =
    graft.ext.Similarity.knnLabelBatch(t(s, dir, "embeddings"),
      "embedding", "vec_id", "label", queryIds = 0L to 7L, k = 25)

  /** X1 — label centroid top-k: mean embedding per label (decimal-exact
    * per-dimension mean is overkill; counts and rounded norms suffice
    * for the oracle) — demonstrates groupwise vector aggregation. */
  def x1_label_stats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .withColumn("e", col("embedding").cast("array<double>"))
      .withColumn("norm", round(sqrt(expr(
        "aggregate(e, 0D, (acc, x) -> acc + x * x)")), 6))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(min(col("norm")), 6).as("min_norm"),
        round(max(col("norm")), 6).as("max_norm"))
      .orderBy("label")

  /** X4 — the canonical distributed text op: corpus word frequencies
    * (explode → groupBy; generator/UDTF family §2.13). */
  def x4_wordcount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(words(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("word"))
      .limit(30)

  /** X4 — TF-IDF: top-3 characteristic terms per document. Ranking is
    * by the ROUNDED score (integer tf/df mean cross-engine ln() ulps
    * can't flip an order decided at 6 dp). */
  def x4_tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tokens = docs.select(col("doc_id"),
      explode(words(col("text"))).as("word"))
    val tf = tokens.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tokens.select("doc_id", "word").distinct()
      .groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "word")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast(DoubleType) /
          col("df").cast(DoubleType)), 6))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("tfidf"), asc("word"))
    scored
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 3 && col("doc_id") < 100)
      .select("doc_id", "rnk", "word", "tf", "df", "tfidf")
      .orderBy("doc_id", "rnk")
  }

  /** X4 — train/eval DECONTAMINATION: flag training documents that
    * share any word 5-gram with the held-out eval set (here: docs
    * with `doc_id % 97 == 0`, ≈1%). The canonical pretraining hygiene
    * pass: benchmark text leaking into training data inflates evals.
    *
    * Scale shape: the eval side's distinct n-grams are the SMALL side
    * (eval sets are thousands of docs, not billions) — broadcast them;
    * the train side explodes to (doc, gram) once and map-side
    * hash-joins, so the 100 TB corpus is never shuffled, only its
    * matching grams reach the per-doc count. */
  def x4_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").withColumn("ws", words(col("text")))
    val grams = docs.select(col("doc_id"),
      explode(expr("CASE WHEN size(ws) >= 5 THEN " +
        "transform(sequence(1, size(ws) - 4), i -> " +
        "concat_ws(' ', slice(ws, i, 5))) " +
        "ELSE array() END")).as("gram"))
    val evalGrams = grams.filter(col("doc_id") % 97 === 0)
      .select("gram").distinct()
    val overlap = grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared"))
    docs.filter(col("doc_id") % 97 =!= 0).select("doc_id")
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_shared"), lit(0L)) > 0, 1L).otherwise(0L)
          .as("contaminated"))
      .orderBy("doc_id")
  }

  /** X4 — SEQUENCE PACKING: assign each document an (output shard,
    * packed-sequence id, token offset) for a fixed token budget per
    * training sequence — deterministic, so re-runs produce identical
    * batches. Documents pack in doc_id order WITHIN a shard via a
    * running token sum; a doc starting at offset o lands in sequence
    * `start div budget` (continuous packing — long docs straddle).
    *
    * Scale shape: the window partitions BY SHARD, so packing is
    * embarrassingly parallel across shards (each executor packs its
    * shards independently) — never a global single-partition window,
    * which is the classic packing scale-killer. */
  def x4_seq_pack(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "documents")
      .select(col("doc_id"),
        (col("doc_id") % 8).cast(LongType).as("shard"),
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast(LongType)
          .as("n_tok"))
      .withColumn("end_tok", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tok"),
        expr("(end_tok - n_tok) DIV 512").as("seq_id"),
        ((col("end_tok") - col("n_tok")) % 512).as("tok_offset"))
      .orderBy("doc_id")
  }

  /** X4 — EXACT heavy hitters (frequent items) over the corpus BIGRAM
    * stream, the two-pass Misra–Gries sketch-then-verify plan
    * ([[graft.ext.HeavyHitters]]): pass 1 keeps a bounded candidate
    * summary per partition (capacity 4096 counters no matter how large
    * the partition or vocabulary), pass 2 broadcast-semi-join-reduces
    * the corpus to candidates and counts them exactly — the full
    * vocabulary never crosses a shuffle. Threshold: bigrams covering
    * more than 1/800 of all bigram occurrences, kept in integer
    * arithmetic (n × 800 > total) so engines can't disagree on a
    * boundary. The synthetic corpus's vocabulary fits the summary
    * outright; the guarantee (capacity ≥ den/num, checked) is what
    * holds at a 100 TB vocabulary. */
  def x_heavy_hitters(s: SparkSession, dir: String): DataFrame =
    graft.ext.HeavyHitters
      .frequentItems(bigramStream(t(s, dir, "documents")), "bigram",
        num = 1L, den = 800L)
      .select(col("item").as("bigram"), col("n"))

  /** X4 — PER-LANGUAGE exact heavy hitters: bigrams covering more
    * than 1/800 of THEIR LANGUAGE's bigram occurrences, the grouped
    * variant of `x_heavy_hitters` (one bounded Misra–Gries state per
    * language per partition; candidates and per-group totals stay
    * distributed — [[graft.ext.HeavyHitters.frequentItemsByGroup]]).
    * Per-group relative thresholds are what a multi-jurisdiction /
    * multi-language corpus actually asks (a minority language's
    * frequent terms are invisible to a global threshold); the
    * vocabulary still never crosses a shuffle. */
  def x_heavy_hitters_grouped(s: SparkSession, dir: String): DataFrame =
    graft.ext.HeavyHitters
      .frequentItemsByGroup(bigramStreamByLang(t(s, dir, "documents")),
        "lang", "bigram", num = 1L, den = 800L)
      .select(col("lang"), col("item").as("bigram"), col("n"))
      .orderBy(asc("lang"), desc("n"), asc("bigram"))

  /** The corpus bigram stream — shared by the heavy-hitter corpus pass
    * and the persisted-store twin (`x_freq_store_top`), which are
    * pinned to agree row for row; one builder keeps a tokenizer or
    * windowing tweak from silently breaking that contract. */
  private[queries] def bigramStream(docs: DataFrame): DataFrame =
    docs.select(words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(transform(
        sequence(lit(0), size(col("ws")) - 2),
        i => concat_ws(" ", element_at(col("ws"), i + 1),
          element_at(col("ws"), i + 2)))).as("bigram"))

  /** The language-keyed bigram stream — shared by the grouped
    * heavy-hitter corpus pass and its store-served twin
    * (`x_freq_store_group_top`), same one-builder contract as
    * [[bigramStream]]. */
  private[queries] def bigramStreamByLang(docs: DataFrame): DataFrame =
    docs.select(col("lang"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("lang"), explode(transform(
        sequence(lit(0), size(col("ws")) - 2),
        i => concat_ws(" ", element_at(col("ws"), i + 1),
          element_at(col("ws"), i + 2)))).as("bigram"))

  /** DuckDB oracle for the per-language >1/800 frequent-bigram ask —
    * shared by the corpus-pass and store-served twins. */
  private[queries] val bigramFrequentGroupedOracle: String =
    """WITH d AS (
      | SELECT lang, regexp_extract_all(lower(text), '[a-z]+') AS ws
      | FROM documents),
      |g AS (
      | SELECT lang, UNNEST(list_transform(range(1, len(ws)),
      |   i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1])) AS bigram
      | FROM d),
      |t AS (SELECT lang, COUNT(*) AS total FROM g GROUP BY lang)
      |SELECT lang, bigram, COUNT(*) AS n
      |FROM g JOIN t USING (lang)
      |GROUP BY lang, bigram, t.total
      |HAVING COUNT(*) * 800 > t.total
      |ORDER BY lang ASC, n DESC, bigram ASC""".stripMargin

  /** DuckDB oracle for the >1/800 frequent-bigram ask — shared by both
    * twins for the same reason. */
  /** X4 — COLLOCATION detection via PMI (pointwise mutual
    * information, the published "are these words together more than
    * chance?" score): for the >1/800 frequent bigrams (the
    * heavy-hitter set — tiny by construction), PMI = ln(p(ab) /
    * (p(a)·p(b))) from the exact bigram and unigram censuses. The
    * expression is a PINNED division sequence — (nab/N2) / ((na/N1)·
    * (nb/N1)) — so both engines execute the identical IEEE ops
    * before ONE ln (the BM25 rounding discipline); counts are exact
    * integers and the word-count join sides are vocabulary-sized
    * broadcasts. */
  def x4_bigram_pmi(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // ONE corpus pass for BOTH censuses (r21): the unigram and bigram
    // streams explode from the same tokenized array as a tagged token
    // stream (t = 0 words, t = 1 bigrams), so the corpus is scanned
    // and tokenized once and one exchange carries what used to cross
    // in two. Row-for-row the t-slices are exactly bigramStream(docs)
    // and the word explode (the size < 2 guard matches bigramStream's
    // filter — sequence(0, size-2) must never run on a short array,
    // where it would DESCEND). Counts, and everything downstream,
    // are unchanged.
    val tagged = docs.select(words(col("text")).as("ws"))
      .select(explode(concat(
        transform(col("ws"),
          w => struct(lit(0).as("t"), w.as("tok"))),
        when(size(col("ws")) >= 2, transform(
          sequence(lit(0), size(col("ws")) - 2),
          i => struct(lit(1).as("t"),
            concat_ws(" ", element_at(col("ws"), i + 1),
              element_at(col("ws"), i + 2)).as("tok"))))
          .otherwise(expr("array()").cast(
            "array<struct<t:int,tok:string>>")))).as("e"))
      .select(col("e.t").as("t"), col("e.tok").as("tok"))
    val census = tagged.groupBy("t", "tok")
      .agg(count(lit(1)).as("n"))
      .persist()
    val bi = census.filter(col("t") === 1)
      .select(col("tok").as("bigram"), col("n").as("nab"))
    try {
      // corpus totals as 1-row broadcast frames, not driver actions:
      // the two head() calls cost one sequential job each per run for
      // values the plan can carry itself (r21; identical IEEE ops —
      // the division sequence is unchanged, only the literal became a
      // column)
      val n2f = bi.agg(coalesce(sum("nab"), lit(0L)).as("_n2"))
      val wcounts = census.filter(col("t") === 0)
        .select(col("tok").as("w"), col("n").as("nw"))
      val n1f = wcounts.agg(coalesce(sum("nw"), lit(0L)).as("_n1"))
        // broadcast the FREQUENT-BIGRAM side (≤800 rows by the
        // nab·800 > N2 filter), never wcounts: wcounts is the full
        // unigram vocabulary census — at web-corpus scale that is
        // 10^8–10^9 distinct tokens (Heaps' law), and forcing it into
        // a broadcast OOMs the driver precisely when the table is big
        val freq = bi.crossJoin(broadcast(n2f))
          .filter(col("nab") * 800 > col("_n2"))
          .withColumn("w1", split(col("bigram"), " ").getItem(0))
          .withColumn("w2", split(col("bigram"), " ").getItem(1))
        val withNa = wcounts.select(col("w").as("w1"), col("nw").as("na"))
          .join(broadcast(freq), Seq("w1"))
        broadcast(withNa)
          .join(wcounts.select(col("w").as("w2"), col("nw").as("nb")),
            Seq("w2"))
          .crossJoin(broadcast(n1f))
          .select(col("bigram"), col("nab").as("n"),
            round(log((col("nab").cast(DoubleType) / col("_n2").cast(DoubleType)) /
              ((col("na").cast(DoubleType) / col("_n1").cast(DoubleType)) *
                (col("nb").cast(DoubleType) / col("_n1").cast(DoubleType)))), 6)
              .as("pmi"))
          .orderBy("bigram")
          .localCheckpoint(true)
    } finally { census.unpersist(); () }
  }

  private[queries] val bigramFrequentOracle: String =
    """WITH d AS (
      | SELECT regexp_extract_all(lower(text), '[a-z]+') AS ws
      | FROM documents),
      |g AS (
      | SELECT UNNEST(list_transform(range(1, len(ws)),
      |   i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1])) AS bigram
      | FROM d),
      |t AS (SELECT COUNT(*) AS total FROM g)
      |SELECT bigram, COUNT(*) AS n
      |FROM g CROSS JOIN t
      |GROUP BY bigram, t.total
      |HAVING COUNT(*) * 800 > t.total
      |ORDER BY n DESC, bigram ASC""".stripMargin

  /** X4 — retrieval-style document CHUNKING: fixed 400-char windows
    * sliding by 320 (80-char overlap, the RAG chunking shape). Chunk
    * counts come from the closed form ceil((len − overlap) / step)
    * (floored at one chunk), so the op is a pure per-document explode —
    * embarrassingly parallel, no shuffle until the output sort. Chunk
    * CONTENT is verified by md5 (not shipped raw) so the oracle
    * hash-checks every boundary without hauling text. */
  def x4_chunk_overlap(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .withColumn("n_chunks",
        greatest(ceil((col("len") - lit(80)) / lit(320.0)).cast(LongType),
          lit(1L)))
      .withColumn("chunk_id", explode(sequence(lit(0L), col("n_chunks") - 1)))
      .withColumn("chunk",
        expr("substring(text, CAST(chunk_id * 320 + 1 AS INT), 400)"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * 320).as("chunk_start"),
        length(col("chunk")).cast(LongType).as("chunk_len"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x4_chunk_overlap" -> (x4_chunk_overlap _),
    "x_heavy_hitters" -> (x_heavy_hitters _),
    "x_heavy_hitters_grouped" -> (x_heavy_hitters_grouped _),
    "x4_decontaminate" -> (x4_decontaminate _),
    "x4_seq_pack" -> (x4_seq_pack _),
    "x4_tfidf" -> (x4_tfidf _),
    "x4_wordcount" -> (x4_wordcount _),
    "x4_token_stats" -> (x4_token_stats _),
    "x4_quality_scores" -> (x4_quality_scores _),
    "x4_langid" -> (x4_langid _),
    "x3_exact_dedup" -> (x3_exact_dedup _),
    "x3_window_dedup" -> (x3_window_dedup _),
    "x4_lm_score" -> (x4_lm_score _),
    "x2_minhash_buckets" -> (x2_minhash_buckets _),
    "x2_jaccard_pairs" -> (x2_jaccard_pairs _),
    "x2_cc_components" -> (x2_cc_components _),
    "x2_cc_incremental" -> (x2_cc_incremental _),
    "x2_canonical_dedup" -> (x2_canonical_dedup _),
    "x2_shingle_jaccard" -> (x2_shingle_jaccard _),
    "x2_prefix_jaccard" -> (x2_prefix_jaccard _),
    "x4_bpe_tokens" -> (x4_bpe_tokens _),
    "x4_mask_terms" -> (x4_mask_terms _),
    "x4_repetition" -> (x4_repetition _),
    "x4_stratified_sample" -> (x4_stratified_sample _),
    "x4_weighted_sample" -> (x4_weighted_sample _),
    "x4_mixture_sample" -> (x4_mixture_sample _),
    "x4_split_assign" -> (x4_split_assign _),
    "x1_cosine_topk" -> (x1_cosine_topk _),
    "x1_knn_sql" -> (x1_knn_sql _),
    "x1_filtered_topk" -> (x1_filtered_topk _),
    "x4_bigram_pmi" -> (x4_bigram_pmi _),
    "x1_knn_label" -> (x1_knn_label _),
    "x1_knn_batch" -> (x1_knn_batch _),
    "x1_label_stats" -> (x1_label_stats _))

  val oracle: Map[String, String] = Map(
    // PMI: identical pinned division sequence before one ln
    "x4_bigram_pmi" ->
      """WITH d AS (
        | SELECT regexp_extract_all(lower(text), '[a-z]+') AS ws
        | FROM documents),
        |g AS (
        | SELECT UNNEST(list_transform(range(1, len(ws)),
        |   i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1])) AS bigram
        | FROM d),
        |wc AS (
        | SELECT UNNEST(ws) AS w FROM d),
        |wcount AS (SELECT w, COUNT(*) AS nw FROM wc GROUP BY 1),
        |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM wc),
        |n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g),
        |b AS (
        | SELECT bigram, COUNT(*) AS nab FROM g CROSS JOIN n2
        | GROUP BY bigram, n2.n HAVING COUNT(*) * 800 > n2.n)
        |SELECT b.bigram, b.nab AS n,
        | ROUND(ln((CAST(b.nab AS DOUBLE) / CAST(n2.n AS DOUBLE)) /
        |   ((CAST(wa.nw AS DOUBLE) / CAST(n1.n AS DOUBLE)) *
        |    (CAST(wb.nw AS DOUBLE) / CAST(n1.n AS DOUBLE)))), 6) AS pmi
        |FROM b
        |CROSS JOIN n1 CROSS JOIN n2
        |JOIN wcount wa ON wa.w = split_part(b.bigram, ' ', 1)
        |JOIN wcount wb ON wb.w = split_part(b.bigram, ' ', 2)
        |ORDER BY b.bigram""".stripMargin,
    // filtered kNN: exact over the predicate's subset — the oracle is
    // the same filtered brute force
    "x1_filtered_topk" ->
      """SELECT e.vec_id, e.label,
        | ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS score
        |FROM embeddings e
        |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0 AND e.label IN (3, 7)
        |ORDER BY score DESC, e.vec_id ASC LIMIT 10""".stripMargin,
    // chunk boundaries and md5-verified content must agree exactly
    "x4_chunk_overlap" ->
      """WITH d AS (
        | SELECT doc_id, text,
        |  GREATEST(CAST(CEIL((LENGTH(text) - 80) / 320.0) AS BIGINT), 1)
        |    AS n_chunks
        | FROM documents WHERE doc_id < 200),
        |c AS (
        | SELECT doc_id, UNNEST(range(0, n_chunks)) AS chunk_id, text FROM d)
        |SELECT doc_id, chunk_id, chunk_id * 320 AS chunk_start,
        | CAST(LENGTH(substr(text, CAST(chunk_id * 320 + 1 AS INT), 400))
        |   AS BIGINT) AS chunk_len,
        | md5(substr(text, CAST(chunk_id * 320 + 1 AS INT), 400)) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // exact frequent items: the sketch only reduces the aggregate's
    // input — the result must equal the naive GROUP BY + HAVING
    "x_heavy_hitters" -> bigramFrequentOracle,
    "x_heavy_hitters_grouped" -> bigramFrequentGroupedOracle,
    "x4_decontaminate" ->
      """WITH d AS (
        | SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        | FROM documents),
        |g AS (
        | SELECT doc_id, UNNEST(list_transform(
        |   range(1, greatest(len(ws) - 3, 1)),
        |   i -> array_to_string(list_slice(ws, CAST(i AS INT), CAST(i AS INT) + 4), ' '))) AS gram
        | FROM d),
        |e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
        |o AS (
        | SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_shared
        | FROM g JOIN e USING (gram) WHERE g.doc_id % 97 <> 0 GROUP BY 1)
        |SELECT d.doc_id,
        | CAST(COALESCE(o.n_shared, 0) AS BIGINT) AS n_shared,
        | CAST(CASE WHEN COALESCE(o.n_shared, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
        |   AS contaminated
        |FROM d LEFT JOIN o ON d.doc_id = o.doc_id
        |WHERE d.doc_id % 97 <> 0
        |ORDER BY d.doc_id""".stripMargin,
    "x4_seq_pack" ->
      """WITH d AS (
        | SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        | FROM documents),
        |c AS (
        | SELECT doc_id, shard, n_tok,
        |  SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_tok
        | FROM d)
        |SELECT doc_id, shard, n_tok,
        | CAST((end_tok - n_tok) // 512 AS BIGINT) AS seq_id,
        | CAST((end_tok - n_tok) % 512 AS BIGINT) AS tok_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    "x4_tfidf" ->
      """WITH tokens AS (
        | SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS word
        | FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tokens GROUP BY 1, 2),
        |df AS (SELECT word, COUNT(*) AS df FROM
        |        (SELECT DISTINCT doc_id, word FROM tokens) GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        | SELECT tf.doc_id, tf.word, tf.tf, df.df,
        |  ROUND(tf.tf * ln(CAST(n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)), 6)
        |    AS tfidf
        | FROM tf JOIN df USING (word) CROSS JOIN n)
        |SELECT doc_id, rnk, word, tf, df, tfidf FROM (
        | SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |   ORDER BY tfidf DESC, word ASC) AS rnk
        | FROM scored) x
        |WHERE rnk <= 3 AND doc_id < 100
        |ORDER BY doc_id, rnk""".stripMargin,
    "x4_wordcount" ->
      """SELECT word, COUNT(*) AS n FROM (
        | SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS word
        | FROM documents) w
        |GROUP BY word ORDER BY n DESC, word ASC LIMIT 30""".stripMargin,
    "x4_token_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        | CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS total_tokens,
        | CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+'))) AS BIGINT) AS total_words,
        | CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        | CAST(MAX(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS max_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "x4_quality_scores" ->
      """SELECT doc_id, n_words, n_punct, n_stop,
        | CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
        | CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
        | CAST(n_chars AS DOUBLE) / n_words AS chars_per_word
        |FROM (
        | SELECT doc_id, n_chars,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
        |  CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
        |    w -> w IN ('the','a','an','and','or','of','to','in'))) AS BIGINT) AS n_stop
        | FROM documents WHERE doc_id < 100) x
        |ORDER BY doc_id""".stripMargin,
    "x4_langid" ->
      """SELECT lang, predicted, COUNT(*) AS n FROM (
        | SELECT lang,
        |  CASE WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
        |       WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr'
        |       ELSE 'es' END AS predicted
        | FROM (
        |  SELECT lang,
        |   len(list_filter(ws, w -> w IN ('the','a','and','of','to'))) AS s_en,
        |   len(list_filter(ws, w -> w IN ('der','die','das','und','zu'))) AS s_de,
        |   len(list_filter(ws, w -> w IN ('le','la','et','de','un'))) AS s_fr,
        |   len(list_filter(ws, w -> w IN ('el','la','y','de','un'))) AS s_es
        |  FROM (SELECT lang, regexp_extract_all(lower(text), '[a-z]+') AS ws
        |        FROM documents) w) sc) p
        |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,
    "x3_exact_dedup" ->
      """SELECT lang, COUNT(*) AS n_kept,
        | CAST(SUM(src_rank) AS BIGINT) AS n_from_recrawl
        |FROM (
        | SELECT lang, src_rank,
        |  ROW_NUMBER() OVER (PARTITION BY fp ORDER BY src_rank ASC, doc_id ASC) AS rn
        | FROM (
        |  SELECT lang, doc_id, 0 AS src_rank, md5(text) AS fp FROM documents
        |  UNION ALL
        |  SELECT lang, doc_id, 1 AS src_rank, md5(text) AS fp FROM documents
        |  WHERE doc_id < 100) u) r
        |WHERE rn = 1 GROUP BY lang ORDER BY lang""".stripMargin,
    "x3_window_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents WHERE len(text) > 0),
        |c AS (
        | SELECT doc_id, u.idx AS idx, u.chunk AS chunk FROM (
        |  SELECT doc_id,
        |   unnest(list_transform(range(0, CAST(ceil(len(ws)/10.0) AS BIGINT)),
        |    i -> {'idx': i,
        |          'chunk': array_to_string(list_slice(ws,
        |            CAST(i*10+1 AS BIGINT), CAST(i*10+10 AS BIGINT)), ' ')}))
        |   AS u
        |  FROM w)),
        |r AS (
        | SELECT doc_id, idx, chunk,
        |  ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
        | FROM c)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        | COUNT(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
        | md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END,
        |   ' ' ORDER BY idx), '')) AS dedup_md5
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x4_lm_score" ->
      """WITH t AS (SELECT doc_id,
        |  regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
        |cb AS (
        | SELECT (u).prev AS prev, (u).cur AS cur FROM (
        |  SELECT unnest(list_transform(range(2, len(ws)+1),
        |    i -> {'prev': ws[CAST(i-1 AS BIGINT)],
        |          'cur': ws[CAST(i AS BIGINT)]})) AS u
        |  FROM t WHERE doc_id >= 250)),
        |big AS (SELECT prev, cur, COUNT(*) AS c2 FROM cb GROUP BY 1, 2),
        |uni AS (SELECT prev, COUNT(*) AS c1 FROM cb GROUP BY 1),
        |voc AS (SELECT COUNT(DISTINCT w) AS v FROM (
        |  SELECT unnest(ws) AS w FROM t WHERE doc_id >= 250)),
        |db AS (
        | SELECT doc_id, (u).prev AS prev, (u).cur AS cur FROM (
        |  SELECT doc_id, unnest(list_transform(range(2, len(ws)+1),
        |    i -> {'prev': ws[CAST(i-1 AS BIGINT)],
        |          'cur': ws[CAST(i AS BIGINT)]})) AS u
        |  FROM t WHERE doc_id < 250))
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        | ROUND(AVG(ln((COALESCE(c2, 0) + 0.5)
        |   / (COALESCE(c1, 0) + 0.5 * (SELECT v FROM voc)))), 6) AS lm_score
        |FROM db LEFT JOIN big USING (prev, cur) LEFT JOIN uni USING (prev)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x2_minhash_buckets" ->
      """SELECT band, sig, COUNT(*) AS bucket_size FROM (
        | SELECT b.band,
        |  list_aggregate(list_transform(ws, w -> md5(CAST(b.band AS VARCHAR) || ':' || w)), 'min') AS sig
        | FROM (SELECT regexp_extract_all(lower(text), '[a-z]+') AS ws
        |       FROM documents) d
        | CROSS JOIN (SELECT UNNEST([0,1,2,3]) AS band) b) s
        |GROUP BY band, sig HAVING COUNT(*) >= 2
        |ORDER BY band, sig""".stripMargin,
    "x2_jaccard_pairs" ->
      """SELECT id_a, id_b, n_inter, n_union,
        | CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard
        |FROM (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS n_inter,
        |  CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS BIGINT) AS n_union
        | FROM
        |  (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z]+')) AS ws
        |   FROM documents WHERE doc_id < 60) a
        | JOIN
        |  (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z]+')) AS ws
        |   FROM documents WHERE doc_id < 60) b
        | ON a.doc_id < b.doc_id) p
        |WHERE CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,
    // component labels = min reachable id; the oracle materializes the
    // transitive closure with a recursive CTE (bounded demo slice)
    "x2_cc_components" ->
      """WITH RECURSIVE pairs AS (
        | SELECT id_a, id_b FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |   CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS n_inter,
        |   CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS BIGINT) AS n_union
        |  FROM
        |   (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z]+')) AS ws
        |    FROM documents WHERE doc_id < 60) a
        |  JOIN
        |   (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z]+')) AS ws
        |    FROM documents WHERE doc_id < 60) b
        |  ON a.doc_id < b.doc_id) p
        | WHERE CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) >= 0.6),
        |edges AS (
        | SELECT id_a AS src, id_b AS dst FROM pairs
        | UNION
        | SELECT id_b AS src, id_a AS dst FROM pairs),
        |reach AS (
        | SELECT src, dst FROM edges
        | UNION
        | SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
        |FROM reach GROUP BY src
        |ORDER BY doc_id""".stripMargin,
    // the incremental fold must be INVISIBLE: three-batch maintenance
    // ≡ the one-shot closure over all pairs (same CTE as
    // x2_cc_components)
    "x2_cc_incremental" ->
      """WITH RECURSIVE pairs AS (
        | SELECT id_a, id_b FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |   CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS n_inter,
        |   CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS BIGINT) AS n_union
        |  FROM
        |   (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z]+')) AS ws
        |    FROM documents WHERE doc_id < 60) a
        |  JOIN
        |   (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z]+')) AS ws
        |    FROM documents WHERE doc_id < 60) b
        |  ON a.doc_id < b.doc_id) p
        | WHERE CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) >= 0.6),
        |edges AS (
        | SELECT id_a AS src, id_b AS dst FROM pairs
        | UNION
        | SELECT id_b AS src, id_a AS dst FROM pairs),
        |reach AS (
        | SELECT src, dst FROM edges
        | UNION
        | SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
        |FROM reach GROUP BY src
        |ORDER BY doc_id""".stripMargin,
    // canonical = component label (min reachable id) for paired docs,
    // self for singletons; roll up cluster sizes
    "x2_canonical_dedup" ->
      """WITH RECURSIVE pairs AS (
        | SELECT id_a, id_b FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |   CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS n_inter,
        |   CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS BIGINT) AS n_union
        |  FROM
        |   (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z]+')) AS ws
        |    FROM documents WHERE doc_id < 60) a
        |  JOIN
        |   (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z]+')) AS ws
        |    FROM documents WHERE doc_id < 60) b
        |  ON a.doc_id < b.doc_id) p
        | WHERE CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) >= 0.6),
        |edges AS (
        | SELECT id_a AS src, id_b AS dst FROM pairs
        | UNION
        | SELECT id_b AS src, id_a AS dst FROM pairs),
        |reach AS (
        | SELECT src, dst FROM edges
        | UNION
        | SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (
        | SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
        | FROM reach GROUP BY src)
        |SELECT canonical, COUNT(*) AS n_members,
        | CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
        |FROM (
        | SELECT COALESCE(c.component, d.doc_id) AS canonical
        | FROM (SELECT doc_id FROM documents WHERE doc_id < 60) d
        | LEFT JOIN comp c ON d.doc_id = c.doc_id)
        |GROUP BY canonical
        |ORDER BY canonical""".stripMargin,
    // the naive quadratic truth — prefix filtering is EXACT, so the
    // blocked scale path must reproduce it row for row; the threshold
    // comparison is the same integer form (inter*5 >= union*3) in both
    // engines, and empty word sets are excluded on both sides (a 0/0
    // pair would otherwise pass 0 >= 0)
    "x2_prefix_jaccard" ->
      """SELECT id_a, id_b, n_inter, n_union,
        | ROUND(CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE), 6)
        |   AS jaccard
        |FROM (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS n_inter,
        |  CAST(len(a.ws) + len(b.ws)
        |    - len(list_intersect(a.ws, b.ws)) AS BIGINT) AS n_union
        | FROM
        |  (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z]+')) AS ws
        |   FROM documents WHERE doc_id < 240
        |     AND len(list_distinct(regexp_extract_all(lower(text), '[a-z]+'))) > 0) a
        | JOIN
        |  (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z]+')) AS ws
        |   FROM documents WHERE doc_id < 240
        |     AND len(list_distinct(regexp_extract_all(lower(text), '[a-z]+'))) > 0) b
        | ON a.doc_id < b.doc_id) p
        |WHERE n_inter * 5 >= n_union * 3
        |ORDER BY id_a, id_b""".stripMargin,
    "x2_shingle_jaccard" ->
      """WITH d AS (
        | SELECT doc_id, lower(text) AS lt,
        |  list_distinct(regexp_extract_all(lower(text), '[a-z]+')) AS ws
        | FROM documents WHERE doc_id < 120),
        |sigs AS (
        | SELECT doc_id, b.band,
        |  list_aggregate(list_transform(ws,
        |    w -> md5(CAST(b.band AS VARCHAR) || ':' || w)), 'min') AS sig
        | FROM d CROSS JOIN (SELECT UNNEST([0,1,2,3]) AS band) b),
        |cand AS (
        | SELECT DISTINCT a.doc_id AS id_a, bb.doc_id AS id_b
        | FROM sigs a JOIN sigs bb
        |  ON a.band = bb.band AND a.sig = bb.sig AND a.doc_id < bb.doc_id),
        |sh AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   range(0, greatest(len(lt) - 2, 0)),
        |   i -> substr(lt, CAST(i AS INT) + 1, 3))) AS sh
        | FROM d)
        |SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM (
        | SELECT c.id_a, c.id_b,
        |  CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
        |   (CAST(len(x.sh) AS DOUBLE) + CAST(len(y.sh) AS DOUBLE)
        |    - CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)) AS j
        | FROM cand c
        | JOIN sh x ON x.doc_id = c.id_a
        | JOIN sh y ON y.doc_id = c.id_b) p
        |WHERE j >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "x4_stratified_sample" ->
      """SELECT lang, COUNT(*) AS n_docs,
        | CAST(SUM(CASE
        |  WHEN lang = 'en' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |    IN ('0','1','2','3') THEN 1
        |  WHEN lang <> 'en' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |    IN ('0','1','2','3','4','5','6','7') THEN 1
        |  ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // rate math forced to IEEE DOUBLE (explicit casts — DuckDB decimal
    // literals would otherwise compute in DECIMAL and move the
    // comparison boundary); u = first 4 md5 hex chars as an integer,
    // identical to Spark's conv(substring(md5, 1, 4), 16, 10)
    // A-ES key recomputed from the same md5 draw and IEEE double
    // power; both engines cut at the ROUNDED key with id tiebreak
    "x4_weighted_sample" ->
      """WITH d AS (
        | SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS w,
        |  CAST((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |   + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |   + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |   + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)
        |   + 1 AS DOUBLE) / CAST(65536 AS DOUBLE) AS u
        | FROM documents)
        |SELECT doc_id, lang, n_tokens,
        | ROUND(POWER(u, CAST(1.0 AS DOUBLE) / w), 6) AS key
        |FROM d
        |ORDER BY key DESC, doc_id LIMIT 25""".stripMargin,
    "x4_mixture_sample" ->
      """WITH d AS (
        | SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
        |  (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |   + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |   + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |   + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS u
        | FROM documents),
        |a AS (SELECT lang, SUM(tok) AS avail FROM d GROUP BY lang),
        |r AS (
        | SELECT d.lang, d.tok, d.u,
        |  LEAST(CAST(1.0 AS DOUBLE), CAST(8000 AS DOUBLE) *
        |   (CASE d.lang WHEN 'en' THEN CAST(0.4 AS DOUBLE)
        |     WHEN 'de' THEN CAST(0.2 AS DOUBLE)
        |     WHEN 'es' THEN CAST(0.15 AS DOUBLE)
        |     WHEN 'fr' THEN CAST(0.15 AS DOUBLE)
        |     WHEN 'zh' THEN CAST(0.1 AS DOUBLE)
        |     ELSE CAST(0.0 AS DOUBLE) END)
        |   / CAST(a.avail AS DOUBLE)) AS rate
        | FROM d JOIN a ON d.lang = a.lang)
        |SELECT lang, COUNT(*) AS n_docs,
        | CAST(SUM(CASE WHEN CAST(u AS DOUBLE) < rate * CAST(65536 AS DOUBLE)
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(SUM(CASE WHEN CAST(u AS DOUBLE) < rate * CAST(65536 AS DOUBLE)
        |   THEN tok ELSE 0 END) AS BIGINT) AS tokens_kept,
        | MAX(ROUND(rate, 6)) AS rate
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    "x4_split_assign" ->
      """SELECT split, COUNT(*) AS n_docs,
        | MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM (
        | SELECT doc_id,
        |  CASE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |   WHEN '0' THEN 'val' WHEN '1' THEN 'test' ELSE 'train' END AS split
        | FROM documents) s
        |GROUP BY split ORDER BY split""".stripMargin,
    "x4_mask_terms" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(lower(text),
        |   '\b(the|a|value|table)\b')) AS BIGINT) AS n_masked,
        | substr(regexp_replace(lower(text),
        |   '\b(the|a|value|table)\b', '[MASK]', 'g'), 1, 120) AS masked_head
        |FROM documents WHERE doc_id < 150 ORDER BY doc_id""".stripMargin,
    "x4_repetition" ->
      """WITH w AS (
        | SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS w
        | FROM documents WHERE doc_id < 150),
        |c AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2),
        |r AS (
        | SELECT doc_id, w, c,
        |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, w ASC) AS rn,
        |  SUM(c) OVER (PARTITION BY doc_id) AS n_words,
        |  COUNT(*) OVER (PARTITION BY doc_id) AS n_distinct
        | FROM c)
        |SELECT doc_id,
        | CAST(n_words AS BIGINT) AS n_words,
        | CAST(n_distinct AS BIGINT) AS n_distinct,
        | ROUND(CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
        |   AS distinct_ratio,
        | w AS top_word,
        | ROUND(CAST(c AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS top_ratio
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "x4_bpe_tokens" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text,
        |   '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_bpe,
        | CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws,
        | ROUND(CAST(len(regexp_extract_all(text,
        |     '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS DOUBLE) /
        |   CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE), 6)
        |   AS bpe_per_ws
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,
    "x1_cosine_topk" ->
      """SELECT e.vec_id, e.label,
        | ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS score
        |FROM embeddings e
        |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY score DESC, e.vec_id ASC LIMIT 20""".stripMargin,
    "x1_knn_sql" ->
      """SELECT e.vec_id, e.label,
        | ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS score
        |FROM embeddings e
        |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY score DESC, e.vec_id ASC LIMIT 20""".stripMargin,
    // kNN votes: neighbors cut by the ROUNDED cosine + id (both
    // engines cut the same boundary), then a per-label rollup
    "x1_knn_label" ->
      """SELECT label, COUNT(*) AS votes FROM (
        | SELECT e.label,
        |  ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS score,
        |  e.vec_id
        | FROM embeddings e
        | CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        | WHERE e.vec_id <> 0
        | ORDER BY score DESC, e.vec_id ASC LIMIT 25)
        |GROUP BY label
        |ORDER BY votes DESC, label ASC""".stripMargin,
    // batch kNN: per-query exact top-25 on the same rounded-score +
    // id boundary, voted per label — DuckDB ranks with a per-query
    // window, the engine with the bounded TopK aggregate
    "x1_knn_batch" ->
      """WITH q AS (
        | SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
        | FROM embeddings WHERE vec_id BETWEEN 0 AND 7),
        |s AS (
        | SELECT q.qid, e.vec_id, e.label,
        |  ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6) AS score
        | FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
        |r AS (
        | SELECT qid, label,
        |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rn
        | FROM s)
        |SELECT qid AS query_id, label, COUNT(*) AS votes
        |FROM r WHERE rn <= 25
        |GROUP BY qid, label
        |ORDER BY query_id ASC, votes DESC, label ASC""".stripMargin,
    "x1_label_stats" ->
      """SELECT label, COUNT(*) AS n,
        | ROUND(MIN(norm), 6) AS min_norm, ROUND(MAX(norm), 6) AS max_norm
        |FROM (
        | SELECT label,
        |  ROUND(sqrt(list_aggregate(list_transform(embedding::DOUBLE[],
        |    x -> x * x), 'sum')), 6) AS norm
        | FROM embeddings) x
        |GROUP BY label ORDER BY label""".stripMargin)
}
