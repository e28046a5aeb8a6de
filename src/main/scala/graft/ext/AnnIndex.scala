package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

/** Persisted ANN index (SURVEY §2.11 X1 scale path, round-2 item): the
  * LSH bucket assignment written ONCE as a `bucket=`-partitioned
  * parquet table, so every subsequent query prunes its scan to the
  * probed buckets at PLANNING time (`PartitionFilters` in the physical
  * plan) instead of recomputing signatures over the corpus per query —
  * the reference's `vector_chunks` + pgvector index role
  * (`schema.sql:114-125`, `vectorize.ts`) re-expressed as a lakehouse
  * layout. At 100 TB: build is one pass over the corpus; a top-k probe
  * reads `(1 + nBits + …)` buckets ≈ corpus/2^nBits rows each, i.e.
  * sub-linear in the corpus, and the bucket directories are the unit of
  * compaction.
  */
object AnnIndex {

  /** One pass over `emb`: signature → write partitioned by bucket.
    * Rows keep every input column; `bucket` lives only in directory
    * names. The pre-write `repartition(bucket)` clusters each bucket
    * into one task so the dynamic-partition write emits one file per
    * bucket — without it every task writes a sliver into every bucket
    * directory (tasks × buckets small files, the classic partitionBy
    * mistake). */
  def build(emb: DataFrame, embCol: String, nBits: Int, dir: String): Unit =
    Similarity.lshBuckets(emb, embCol, nBits)
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)

  /** Read back with the data schema declared (never inferred — one
    * file listing) and `bucket` typed LongType from directory names. */
  def read(spark: SparkSession, dir: String, dataSchema: StructType): DataFrame =
    spark.read
      .schema(StructType(dataSchema.fields :+
        StructField("bucket", LongType, nullable = false)))
      .parquet(dir)

  /** Driver-side signature of one vector — the same ascending-index
    * fold and `> 0.0` sign rule as [[Similarity.hyperplaneSignature]],
    * so a driver-hashed query lands in exactly the bucket the executor
    * hashing would have put it in. */
  def signatureOf(v: Seq[Double], nBits: Int): Long =
    (0 until nBits).map { j =>
      val dot = v.indices.foldLeft(0.0)((s, i) =>
        s + v(i) * Similarity.hyperplane(j, i))
      if (dot > 0.0) 1L << j else 0L
    }.sum

  /** All buckets within `maxHamming` bit flips of `sig` — the
    * multi-probe set, enumerated driver-side (≤ 1 + nBits + C(nBits,2)
    * literals for maxHamming ≤ 2; never a scan predicate on data). */
  def probeBuckets(sig: Long, nBits: Int, maxHamming: Int): Seq[Long] =
    (0 to maxHamming).flatMap(d =>
      (0 until nBits).combinations(d).map(
        _.foldLeft(sig)((s, b) => s ^ (1L << b))))

  /** Top-k by exact cosine against `queryVec`, scanning ONLY the probed
    * bucket partitions of a built index. The `bucket IN (…)` literal
    * list becomes `PartitionFilters` → directories outside the probe
    * set are never listed or opened. */
  def topK(spark: SparkSession, dir: String, dataSchema: StructType,
      embCol: String, queryVec: Seq[Double], k: Int, nBits: Int,
      probeHamming: Int = 1): DataFrame = {
    val probes = probeBuckets(signatureOf(queryVec, nBits), nBits, probeHamming)
    val q = array(queryVec.map(lit): _*)
    read(spark, dir, dataSchema)
      .filter(col("bucket").isin(probes: _*))
      .withColumn("_e", col(embCol).cast(ArrayType(DoubleType)))
      .withColumn("score", Similarity.cosine(col("_e"), q))
      .drop("_e")
      .orderBy(desc("score"))
      .limit(k)
  }
}
