package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (north-star extension;
  * SURVEY §2.11 X1): random-hyperplane LSH bucketing (candidate set =
  * one bucket + optional multi-probe, instead of the full corpus).
  *
  * Hyperplanes are derived deterministically from md5 hex arithmetic
  * (engine-portable, no RNG state to ship to executors).
  */
object Similarity {

  def toDouble(emb: Column): Column = emb.cast(ArrayType(DoubleType))

  /** Codegen'd native expression (see
    * [[graft.functions.DotProduct]]); identical fold order to the SQL
    * `aggregate(zip_with(a,b,*),0D,+)` formulation it replaces. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_product(a, b)

  /** ‖a‖ via the codegen'd dot product (the HOF fold it replaces was
    * the interpreted hot spot the DotProduct expression exists for). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** NaN-PROOF cosine: a zero-norm vector (failed embed, padding row)
    * yields NULL, not 0/0 = NaN — NaN compares GREATER than every
    * double in Spark, so it would rank FIRST in every top-k and pass
    * every `>= threshold` near-dup gate. NULL does neither (desc
    * ordering puts nulls last; a null comparison is never true). */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom > 0.0, dot(a, b) / denom)
  }

  /** [[cosine]] with both norms precomputed (per-ROW work hoisted out
    * of per-PAIR scoring). */
  def cosineWithNorms(dotAb: Column, na: Column, nb: Column): Column = {
    val denom = na * nb
    when(denom > 0.0, dotAb / denom)
  }

  /** Deterministic hyperplane component hp(plane, i) ∈ [-1, 1): value
    * of the first 4 hex chars of md5("hp:plane:i") scaled.
    *
    * Computed ONCE on the driver and shipped as literals — the naive
    * formulation recomputes dim × nBits md5 digests per ROW inside an
    * interpreted higher-order function, which dominated BENCH; the
    * same arithmetic in the DuckDB oracle stays row-side (tiny there).
    */
  def hyperplane(plane: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"hp:$plane:$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(4)
    hex.foldLeft(0)((hv, c) => hv * 16 + Integer.parseInt(c.toString, 16))
      .toDouble / 32768.0 - 1.0
  }

  /** Random-hyperplane signature over a named double-array column:
    * nBits sign bits of ⟨e, hp_j⟩ packed into a long. Buckets cluster
    * directionally-similar vectors. `dim` must cover the embedding
    * length (extra components are never touched).
    *
    * Evaluated by the codegen'd
    * [[graft.functions.HyperplaneSignature]] — one fused primitive
    * loop with the matrix as a driver-computed constant, replacing
    * nBits interpreted HOF folds per row (same ascending multiply-add
    * order and `> 0.0` sign rule: bit-identical signatures, DuckDB
    * oracle parity unchanged). */
  def hyperplaneSignature(embCol: String, nBits: Int, dim: Int = 512): Column =
    graft.functions.VectorFunctions.hyperplane_signature(
      col(embCol), Array.tabulate(nBits, dim)(hyperplane))

  /** Bucket histogram — the data layout a cluster deployment would
    * persist (partition-by-bucket) for sub-linear ANN reads.
    *
    * The hyperplane matrix is sized to the DATA (dim ≤ 0 probes one
    * row): a fixed 512 would silently send every 768/1024-dim
    * embedding to bucket 0 (the expression's fold-parity rule maps
    * over-length vectors to signature 0), while the driver-side
    * [[AnnIndex.signatureOf]] folds the full vector — total silent
    * recall loss. Matrix entries are positionally deterministic, so
    * sizing the matrix up never changes any in-range signature. */
  def lshBuckets(emb: DataFrame, embCol: String, nBits: Int,
      dim: Int = 0): DataFrame = {
    val d =
      if (dim > 0) dim
      else math.max(512, emb.select(size(col(embCol)).as("n"))
        .filter(col("n") > 0).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(512))
    emb.withColumn("_ed", toDouble(col(embCol)))
      .withColumn("bucket", hyperplaneSignature("_ed", nBits, d))
      .drop("_ed")
  }

  /** X1 scale path — ANN top-k: hash the query, scan only rows whose
    * bucket is within `probeHamming` of the query bucket (multi-probe
    * recovers near-boundary neighbours), exact cosine inside the
    * candidate set. */
  def annTopK(emb: DataFrame, embCol: String, queryId: Column,
      idCol: String, k: Int, nBits: Int = 8, probeHamming: Int = 1): DataFrame = {
    val bucketed = lshBuckets(emb, embCol, nBits)
      .withColumn("_e", toDouble(col(embCol)))
    val q = bucketed.filter(col(idCol) === queryId)
      .select(col("_e").as("_qe"), col("bucket").as("_qbucket"),
        norm(col("_e")).as("_qn"))
    bucketed.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .filter(bit_count(col("bucket").bitwiseXOR(col("_qbucket"))) <= probeHamming)
      .withColumn("score",
        cosineWithNorms(dot(col("_e"), col("_qe")), norm(col("_e")), col("_qn")))
      .drop("_e", "_qe", "_qbucket", "_qn")
      .orderBy(desc("score"), asc(idCol))
      .limit(k)
  }

  /** X2 — embedding-cosine near-dup pairs within LSH buckets (never a
    * full cross join; bucket-size capped like MinHash, with the capped
    * buckets REPORTED in `dropped` — (bucket, size) rows — so recall
    * loss is observable, never silent). */
  def cosineNearDupPairsWithStats(emb: DataFrame, embCol: String, idCol: String,
      threshold: Double, nBits: Int = 8,
      maxBucket: Int = 10000): Dedup.CandidateStats = {
    // norms precomputed per ROW (not per pair — 2× the work avoided;
    // at ingest scale you'd store unit vectors instead)
    val bucketed = lshBuckets(emb, embCol, nBits)
      .withColumn("_e", toDouble(col(embCol)))
      .select(col(idCol).as("_id"), col("bucket"), col("_e"),
        norm(col("_e")).as("_nrm"))
    val sized = bucketed.withColumn("_n",
      count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("bucket")))
    val capped = sized.filter(col("_n") <= maxBucket).drop("_n")
    val dropped = sized.filter(col("_n") > maxBucket)
      .groupBy(col("bucket")).agg(count(lit(1)).as("size"))
    val a = capped.select(col("bucket"), col("_id").as("id_a"),
      col("_e").as("e_a"), col("_nrm").as("n_a"))
    val b = capped.select(col("bucket"), col("_id").as("id_b"),
      col("_e").as("e_b"), col("_nrm").as("n_b"))
    val pairs = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("score",
        cosineWithNorms(dot(col("e_a"), col("e_b")), col("n_a"), col("n_b")))
      .filter(col("score") >= threshold)
      .select("id_a", "id_b", "score").distinct()
    Dedup.CandidateStats(pairs, dropped)
  }

  /** Pairs-only view of [[cosineNearDupPairsWithStats]]. */
  def cosineNearDupPairs(emb: DataFrame, embCol: String, idCol: String,
      threshold: Double, nBits: Int = 8, maxBucket: Int = 10000): DataFrame =
    cosineNearDupPairsWithStats(emb, embCol, idCol, threshold, nBits,
      maxBucket).pairs

  /** Recall@k of the hyperplane-LSH ANN path against exact brute
    * force, over a SAMPLE of query ids — the tuning harness every ANN
    * deployment needs before committing to an (nBits, probeHamming)
    * operating point at scale. One row per query: hits / k.
    *
    * Fully distributed, both paths in ONE pass each: the sampled
    * queries broadcast (recall evals run on hundreds of queries, not
    * the corpus), every (candidate, query) pair is scored once, and
    * per-query top-k comes from a window over the query partitioning —
    * no per-query driver loop. Ties break by ascending id in both
    * paths, so `probeHamming >= nBits` reproduces exact recall 1.0
    * bit-for-bit, and recall is monotone in the probe radius. */
  def recallAtK(emb: DataFrame, embCol: String, idCol: String,
      queryIds: Seq[Long], k: Int, nBits: Int = 8,
      probeHamming: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = lshBuckets(emb, embCol, nBits)
      .withColumn("_e", toDouble(col(embCol)))
    val queries = bucketed
      .filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("_qid"), col("_e").as("_qe"),
        col("bucket").as("_qbucket"), norm(col("_e")).as("_qn"))
    val scored = bucketed
      .select(col(idCol).as("_id"), col("_e"), col("bucket"))
      .crossJoin(broadcast(queries))
      .filter(col("_id") =!= col("_qid"))
      .withColumn("_score",
        cosineWithNorms(dot(col("_e"), col("_qe")), norm(col("_e")), col("_qn")))
    val w = Window.partitionBy("_qid").orderBy(desc("_score"), asc("_id"))
    val exact = scored
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col("_qid"), col("_id"))
    val ann = scored
      .filter(bit_count(col("bucket").bitwiseXOR(col("_qbucket"))) <= probeHamming)
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col("_qid"), col("_id"))
    exact.join(ann, Seq("_qid", "_id"), "left_semi")
      .groupBy("_qid").agg(count(lit(1)).as("n_hit"))
      .join(exact.groupBy("_qid").agg(count(lit(1)).as("n_exact")),
        Seq("_qid"), "right")
      .select(col("_qid").as("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        col("n_exact"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact").cast("double"), 6).as("recall"))
      .orderBy("query_id")
  }

  /** BATCH kNN majority-label classification — the form a labeling
    * pipeline actually runs at 100 TB: ONE distributed pass labels
    * EVERY query vector, instead of a per-query driver loop (B probes
    * = B jobs = B× scheduler overhead). Shape: corpus × BROADCAST
    * query batch scored map-side (codegen'd cosine on the rounded
    * 6-dp boundary, id tiebreak), per-query neighbor cut via the
    * bounded partial-aggregating [[TopK]] (≤ k entries per query per
    * partition cross the shuffle — never a per-query window), explode
    * + broadcast label join-back, per-(query, label) vote roll-up.
    * On a clustered corpus the scored input drops to the IVF-probed
    * lists ([[graft.ext.IvfPq]]) — the cut and vote are unchanged;
    * on this near-uniform synthetic corpus pruning would drop true
    * neighbors (PLANS.md), so the exact product is the oracle form.
    * `queryIds` is the bounded probe batch (control plane, not
    * data-proportional). */
  def knnLabelBatch(emb: DataFrame, embCol: String, idCol: String,
      labelCol: String, queryIds: Seq[Long], k: Int): DataFrame = {
    val e = toDouble(col(embCol))
    val queries = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("_qid"), e.as("_qe"))
    val scored = emb.select(col(idCol).cast(LongType).as(idCol), e.as("_e"))
      .crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col("_qid"))
      .withColumn("_score", round(cosine(col("_e"), col("_qe")), 6))
    val topk = TopK.top_k(k)
    val neighbors = scored.groupBy("_qid")
      .agg(topk(col("_score"), col(idCol)).as("_top"))
      .select(col("_qid"),
        col("_top").getField("entries").getField("id").as("_ids"))
      .select(col("_qid"), explode(col("_ids")).as(idCol))
    neighbors
      .join(emb.select(col(idCol).cast(LongType).as(idCol), col(labelCol)),
        Seq(idCol))
      .groupBy(col("_qid"), col(labelCol))
      .agg(count(lit(1)).as("votes"))
      .select(col("_qid").as("query_id"), col(labelCol), col("votes"))
      .orderBy(asc("query_id"), desc("votes"), asc(labelCol))
  }

  /** EMBEDDING-QUALITY curation: the k vectors per label FARTHEST
    * from their label centroid (lowest cosine) — mislabeled or failed
    * embeds sit at the bottom of this ranking. Cosine is
    * SCALE-INVARIANT, so the "centroid" can be the element-wise SUM
    * instead of the mean — and the sum is computed in exact DECIMAL
    * (per-component cast to DECIMAL(18,9)), which makes the centroid
    * independent of aggregation order where a double mean would carry
    * partition-order noise in its low bits. One posexplode (rows ×
    * dims, columnar-narrow), a (labels × dims)-sized aggregate
    * rebuilt into arrays, a BROADCAST of the (tiny) centroid table
    * back onto the corpus, and a per-label BOTTOM-k via the bounded
    * partial-aggregating [[TopK]] over the negated ROUNDED score
    * (6 dp, id tiebreak) — deterministic across engines and
    * partitionings. The top-k is an aggregate, not a window: labels
    * are few by construction, so `row_number` partitioned by label
    * would funnel every row of a label through one reducer (the
    * hot-key anti-pattern [[TopK]]'s docstring warns about); the
    * aggregator ships at most k entries per label per partition
    * across the shuffle instead. `idCol` must be integral (it rides
    * the aggregator as a Long). */
  def labelCentroidOutliers(emb: DataFrame, embCol: String, idCol: String,
      labelCol: String, k: Int): DataFrame = {
    val e = col(embCol).cast(ArrayType(DoubleType))
    val pos = emb.select(col(labelCol).as("_lbl"),
        posexplode(e).as(Seq("_pos", "_x")))
      .select(col("_lbl"), col("_pos"),
        col("_x").cast(DecimalType(18, 9)).as("_xd"))
    val cent = pos.groupBy("_lbl", "_pos").agg(sum("_xd").as("_sx"))
      .groupBy("_lbl")
      .agg(transform(array_sort(collect_list(struct(col("_pos"), col("_sx")))),
        s => s.getField("_sx").cast(DoubleType)).as("_cent"))
    val idType = emb.schema(idCol).dataType
    val bottomK = TopK.top_k(k) // value DESC ≡ cosine ASC after negation
    emb.join(broadcast(cent), col(labelCol) === col("_lbl"))
      .withColumn("centroid_cos", round(cosine(e, col("_cent")), 6))
      .groupBy(col(labelCol))
      .agg(bottomK(negate(col("centroid_cos")),
        col(idCol).cast(LongType)).as("_top"))
      .select(col(labelCol),
        posexplode(col("_top").getField("entries")).as(Seq("_r0", "_e")))
      .select(col(labelCol),
        col("_e").getField("id").cast(idType).as(idCol),
        negate(col("_e").getField("value")).as("centroid_cos"),
        (col("_r0") + 1).cast(LongType).as("rank"))
  }
}
