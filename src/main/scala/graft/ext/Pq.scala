package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization (PQ) for embedding columns — the memory-scaled
  * ANN family (IVF-PQ is the FAISS/ScaNN workhorse; SURVEY §2.11 X1
  * scale path, third variant after hyperplane LSH and plain IVF).
  *
  * A D-dim float vector is split into `m` subvectors; each subspace
  * learns `k` codewords (seeded per-subspace KMeans) and a vector is
  * stored as `m` small ints — e.g. 1536 dims × 4 bytes ≈ 6 KB becomes
  * 16 bytes at m=16: a ~380× compression of the scan payload. Query
  * scoring is ASYMMETRIC (ADC): the query stays exact; per subspace a
  * k-entry lookup table of partial inner products / norms is computed
  * ONCE driver-side, and a row's approximate cosine is m table hits —
  * no per-row vector arithmetic at all. Candidates from the ADC pass
  * are then re-ranked with exact cosine on the (tiny) survivor set.
  *
  * 100 TB shape: the ADC pass reads ONLY the id + code columns
  * (columnar scan of m bytes/row instead of 4D), the LUT rides the
  * closure as literals (codegen'd `element_at` chains, no UDF), the
  * top-`refine` is TakeOrderedAndProject (no global sort), and the
  * exact re-rank joins a BROADCAST candidate set back to the corpus.
  * Combined with IVF partition pruning ([[IvfPq]]) a probe touches
  * nProbe/nLists of the directories and reads codes, not vectors.
  *
  * Scoring convention: approximate COSINE — the inner product comes
  * from the LUT; the denominator uses the EXACT row norm stored at
  * encode time (one double/row, the FAISS store-norms recipe), so
  * only the numerator is approximated. Zero-norm rows (failed embeds)
  * score NULL and sort last, matching [[Similarity]]'s NaN-proofing
  * discipline.
  */
object Pq {

  /** Learned codebooks: `books(s)(c)` = codeword c of subspace s
    * (length dim/m each). */
  case class Codebooks(dim: Int, m: Int, k: Int,
      books: Array[Array[Array[Double]]]) {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    def subDim: Int = dim / m
  }

  /** Fit per-subspace quantizers on a BOUNDED training sample — the
    * FAISS recipe: codebook quality converges with ~100k training
    * vectors, so training over the full corpus (m × maxIter corpus
    * passes) buys nothing at 100 TB but an infeasible build. ONE
    * distributed pass takes the `sampleCap` rows with the smallest
    * xxhash64(vector) (TakeOrdered — map-side partial top-k, no
    * global sort; deterministic regardless of partitioning) to the
    * driver, then all m subspace codebooks train locally
    * ([[LocalKMeans]]) — a distributed KMeans on a 100k-row sample is
    * pure scheduler overhead (m × maxIter micro-jobs), and the local
    * fit is bit-deterministic where a distributed reduce is
    * fp-order-sensitive. A corpus under the cap trains on everything. */
  def fit(emb: DataFrame, embCol: String, m: Int, k: Int,
      seed: Long = 42L, sampleCap: Int = 100000): Codebooks = {
    val dim = emb.select(size(col(embCol))).head.getInt(0)
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m")
    val sub = dim / m
    val sample: Array[Array[Double]] = emb
      .select(col(embCol).cast(ArrayType(DoubleType)).as("_e"))
      .orderBy(xxhash64(col("_e")))
      .limit(sampleCap)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    val books = (0 until m).map { s =>
      val slices = sample.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub))
      LocalKMeans.train(slices, k, iters = 20, seed = seed + s)
    }.toArray
    Codebooks(dim, m, k, books)
  }

  /** Per-subspace argmin over the codewords — pure column expressions
    * (the [[IvfIndex]] struct-min trick per subspace). Adds `codeCol`
    * (array<int> of length m) plus the EXACT row norm `<codeCol>_norm`
    * (one double — the FAISS "store norms for IP/cosine" recipe): the
    * ADC denominator is then exact, so only the inner product is
    * approximated, and genuinely zero-norm rows (failed embeds) are
    * detectable at scoring time. */
  def encode(emb: DataFrame, embCol: String, cb: Codebooks,
      codeCol: String = "pq_code"): DataFrame = {
    val e = col(embCol).cast(ArrayType(DoubleType))
    val codes = (0 until cb.m).map { s =>
      val sv = slice(e, s * cb.subDim + 1, cb.subDim)
      val dists = cb.books(s).zipWithIndex.map { case (c, i) =>
        val cLit = array(c.map(lit): _*)
        struct(
          aggregate(zip_with(sv, cLit, (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, v) => a + v).as("dist"),
          lit(i).as("idx"))
      }
      array_min(array(dists: _*)).getField("idx")
    }
    emb.withColumn(codeCol, array(codes: _*))
      .withColumn(s"${codeCol}_norm",
        sqrt(aggregate(e, lit(0.0), (a, x) => a + x * x)))
  }

  /** ADC inner-product lookup table for one query: query·codeword per
    * (subspace, codeword) — driver-side, m×k doubles. */
  private def ipLut(cb: Codebooks, queryVec: Seq[Double]): Array[Array[Double]] =
    Array.tabulate(cb.m, cb.k) { (s, c) =>
      val cw = cb.books(s)(c)
      var acc = 0.0
      var j = 0
      while (j < cb.subDim) { acc += queryVec(s * cb.subDim + j) * cw(j); j += 1 }
      acc
    }

  /** Approximate cosine of the encoded rows to `queryVec`: m LUT hits
    * for the inner product over the EXACT stored norm. NULL for
    * zero-norm rows (or a zero query) — they sort last and never pass
    * a threshold, per the house NaN discipline. */
  def adcCosine(cb: Codebooks, queryVec: Seq[Double],
      codeCol: String = "pq_code"): Column = {
    val lut = ipLut(cb, queryVec)
    val lutCol = array(lut.map(row => array(row.map(lit): _*)): _*)
    val ipSum = (0 until cb.m).map { s =>
      element_at(element_at(lutCol, s + 1),
        element_at(col(codeCol), s + 1) + 1)
    }.reduce(_ + _)
    val qNorm = math.sqrt(queryVec.foldLeft(0.0)((a, x) => a + x * x))
    val denom = lit(qNorm) * col(s"${codeCol}_norm")
    when(denom > 0.0, ipSum / denom)
  }

  /** Persist the encoded corpus (codes + norms + original columns) and
    * the codebook sidecar — the flat-PQ index (build once, probe many;
    * [[IvfPq]] adds list-partition pruning on top). */
  def buildPersistedFlat(emb: DataFrame, embCol: String, m: Int, k: Int,
      dir: String, seed: Long = 42L): Codebooks = {
    val cb = fit(emb, embCol, m, k, seed)
    encode(emb, embCol, cb).write.mode("overwrite").parquet(s"$dir/data")
    saveCodebooks(emb.sparkSession, cb, s"$dir/codebooks")
    cb
  }

  /** The persisted encoded corpus under the stored schema. */
  def readPersistedFlat(spark: SparkSession, dir: String,
      dataSchema: StructType): DataFrame =
    spark.read
      .schema(StructType(dataSchema.fields ++ Seq(
        StructField("pq_code", ArrayType(IntegerType)),
        StructField("pq_code_norm", DoubleType))))
      .parquet(s"$dir/data")

  def saveCodebooks(spark: SparkSession, cb: Codebooks, path: String): Unit = {
    import spark.implicits._
    cb.books.zipWithIndex.toSeq
      .flatMap { case (book, s) =>
        book.zipWithIndex.map { case (cw, c) => (s, c, cw.toSeq) } }
      .toDF("subspace", "code", "codeword")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadCodebooks(spark: SparkSession, path: String): Codebooks = {
    val rows = StoreRead.parquet(spark, path)
      .orderBy("subspace", "code").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = rows.map(_._1).max + 1
    val k = rows.map(_._2).max + 1
    val byKey = rows.map { case (s, c, cw) => (s, c) -> cw }.toMap
    val books = Array.tabulate(m, k)((s, c) => byKey((s, c)))
    Codebooks(books(0)(0).length * m, m, k, books)
  }

  /** Recall@k of the ADC candidate stage vs exact brute force, for a
    * broadcast query sample — the (m, k, refine) tuning tool, twin of
    * [[Similarity.recallAtK]]. Both paths run in ONE distributed pass
    * (windowed per-query ranking, no driver loop): recall = |exact
    * top-k ∩ ADC top-refine| / k per query. refine = corpus size
    * must return 1.0 (the ADC order then cannot exclude anything the
    * re-rank would keep). */
  def recallAtK(encoded: DataFrame, embCol: String, idCol: String,
      cb: Codebooks, queryIds: Seq[Long], k: Int, refine: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = col(embCol).cast(ArrayType(DoubleType))
    val queries = encoded.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("_qid"), e.as("_qe"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val perQuery = queries.map { case (qid, qv) =>
      encoded.filter(col(idCol) =!= qid)
        .select(lit(qid).as("_qid"), col(idCol).as("_id"),
          Similarity.cosine(e, array(qv.map(lit): _*)).as("_exact"),
          adcCosine(cb, qv).as("_adc"))
    }.reduce(_ unionByName _)
    val wE = Window.partitionBy("_qid").orderBy(desc_nulls_last("_exact"), asc("_id"))
    val wA = Window.partitionBy("_qid").orderBy(desc_nulls_last("_adc"), asc("_id"))
    val ranked = perQuery
      .withColumn("_re", row_number().over(wE))
      .withColumn("_ra", row_number().over(wA))
    ranked.filter(col("_re") <= k)
      .groupBy("_qid")
      .agg(count(when(col("_ra") <= refine, 1)).as("n_hit"),
        count(lit(1)).as("n_exact"))
      .select(col("_qid").as("query_id"), col("n_hit"), col("n_exact"),
        round(col("n_hit").cast(DoubleType) /
          col("n_exact").cast(DoubleType), 6).as("recall"))
      .orderBy("query_id")
  }

  /** ADC top-`refine` then exact-cosine re-rank to top-`k`. The ADC
    * stage stays on (id, code); the re-rank joins the BROADCAST
    * candidate ids back for exact scoring of ≤ `refine` rows. */
  def topK(encoded: DataFrame, embCol: String, idCol: String,
      cb: Codebooks, queryVec: Seq[Double], k: Int, refine: Int,
      codeCol: String = "pq_code"): DataFrame = {
    require(refine >= k, s"refine $refine must be >= k $k")
    val cands = encoded
      .select(col(idCol),
        adcCosine(cb, queryVec, codeCol).as("_adc"))
      .orderBy(desc_nulls_last("_adc"), col(idCol))
      .limit(refine)
      .select(col(idCol))
    val q = array(queryVec.map(lit): _*)
    encoded.join(broadcast(cands), idCol)
      .withColumn("score",
        Similarity.cosine(col(embCol).cast(ArrayType(DoubleType)), q))
      .orderBy(desc_nulls_last("score"), col(idCol))
      .limit(k)
      .drop(codeCol, s"${codeCol}_norm")
  }
}

/** Persisted IVF-PQ index: coarse IVF lists as `ivf_list=` partition
  * directories (probe-pruned at plan time like [[IvfIndex]]), rows
  * carrying PQ codes for the ADC pass plus the original embedding for
  * exact re-rank. Sidecars: IVF centroids + PQ codebooks (tiny).
  *
  * Probe cost at scale: nProbe/nLists directories × (id + m-byte code)
  * columns for ranking, then `refine` full vectors for re-rank — the
  * full-vector column is touched only for the candidate join.
  */
object IvfPq {

  case class Index(ivf: IvfIndex.Model, pq: Pq.Codebooks)

  /** One corpus pass after fitting both quantizers: assign IVF list,
    * encode PQ codes, write list-partitioned parquet + sidecars. */
  def buildPersisted(emb: DataFrame, embCol: String, nLists: Int,
      m: Int, k: Int, dir: String, seed: Long = 42L): Index = {
    val ivf = IvfIndex.fit(emb, embCol, nLists, seed)
    val pq = Pq.fit(emb, embCol, m, k, seed)
    Pq.encode(IvfIndex.assign(emb, embCol, ivf), embCol, pq)
      .repartition(col("ivf_list"))
      .write.mode("overwrite").partitionBy("ivf_list")
      .parquet(s"$dir/data")
    val spark = emb.sparkSession
    import spark.implicits._
    ivf.centroids.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("idx", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    Pq.saveCodebooks(spark, pq, s"$dir/codebooks")
    Index(ivf, pq)
  }

  def loadIndex(spark: SparkSession, dir: String): Index = {
    val ivf = IvfIndex.Model(
      StoreRead.parquet(spark, s"$dir/centroids").orderBy("idx").collect()
        .map(_.getSeq[Double](1).toArray))
    Index(ivf, Pq.loadCodebooks(spark, s"$dir/codebooks"))
  }

  /** Probe: nProbe nearest lists via the centroid sidecar (driver-side
    * argsort), `ivf_list IN probes` becomes PartitionFilters, ADC
    * ranking inside the probed lists, exact re-rank of `refine`
    * candidates. */
  def persistedTopK(spark: SparkSession, dir: String,
      dataSchema: StructType, embCol: String, idCol: String,
      queryVec: Seq[Double], k: Int, nProbe: Int, refine: Int): DataFrame = {
    val idx = loadIndex(spark, dir)
    val probes = IvfIndex.probeLists(idx.ivf, queryVec, nProbe)
    val stored = spark.read
      .schema(StructType(dataSchema.fields ++ Seq(
        StructField("pq_code", ArrayType(IntegerType)),
        StructField("pq_code_norm", DoubleType),
        StructField("ivf_list", IntegerType, nullable = false))))
      .parquet(s"$dir/data")
      .filter(col("ivf_list").isin(probes: _*))
    Pq.topK(stored, embCol, idCol, idx.pq, queryVec, k, refine)
      .drop("ivf_list")
  }

  /** BATCH probe — top-k per query for a bounded query batch in ONE
    * distributed pass (the labeling/backfill shape: B probes as one
    * job, not B jobs). Each query's nProbe nearest lists come from
    * the centroid sidecar driver-side (B × nProbe pairs — control
    * plane); the corpus read partition-prunes to the UNION of probed
    * lists; each probed row joins only the queries probing its list
    * (broadcast of the tiny pair set); exact cosine on the 6-dp
    * rounded boundary; per-query cut via the bounded
    * partial-aggregating [[TopK]] — ≤ k entries per query per
    * partition cross the shuffle, never a per-query window or driver
    * loop. Returns (query_id, idCol, score, rank).
    *
    * The batch path scores exact vectors instead of ADC codes: one
    * driver-built ADC lookup-table EXPRESSION per query would bloat
    * codegen linearly in B — list pruning is the scale lever here,
    * and rows outside the probed lists are never read. */
  def topKBatch(spark: SparkSession, dir: String, dataSchema: StructType,
      embCol: String, idCol: String, queries: Seq[(Long, Seq[Double])],
      k: Int, nProbe: Int): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty, "empty query batch")
    val idx = loadIndex(spark, dir)
    val pairs = queries.flatMap { case (qid, qv) =>
      IvfIndex.probeLists(idx.ivf, qv, nProbe).map(l => (qid, l, qv))
    }
    val qdf = pairs.toDF("_qid", "ivf_list", "_qe")
    val union = pairs.map(_._2).distinct
    val stored = spark.read
      .schema(StructType(dataSchema.fields ++ Seq(
        StructField("pq_code", ArrayType(IntegerType)),
        StructField("pq_code_norm", DoubleType),
        StructField("ivf_list", IntegerType, nullable = false))))
      .parquet(s"$dir/data")
      .filter(col("ivf_list").isin(union: _*))
    val scored = stored
      .join(broadcast(qdf), Seq("ivf_list"))
      .withColumn("_score", round(
        Similarity.cosine(col(embCol).cast(ArrayType(DoubleType)), col("_qe")), 6))
    val topk = TopK.top_k(k)
    scored.groupBy("_qid")
      .agg(topk(col("_score"), col(idCol).cast(LongType)).as("_top"))
      .select(col("_qid").as("query_id"),
        posexplode(col("_top").getField("entries")).as(Seq("_r0", "_e")))
      .select(col("query_id"),
        col("_e").getField("id").as(idCol),
        col("_e").getField("value").as("score"),
        (col("_r0") + 1).cast(LongType).as("rank"))
  }
}
