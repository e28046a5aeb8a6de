package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF (inverted-file) ANN index over an embedding column (the
  * k-means-quantizer alternative to hyperplane LSH; SURVEY §2.11 X1
  * scale path). Build: MLlib KMeans (seeded → deterministic) learns
  * `nLists` centroids; every vector is assigned to its nearest
  * centroid (one narrow pass). Query: score the `nProbe` nearest
  * centroids, then exact cosine only within those inverted lists —
  * at scale the assignment is the partition key, so a query touches
  * nProbe/nLists of the corpus.
  */
object IvfIndex {

  case class Model(centroids: Array[Array[Double]]) {
    def nLists: Int = centroids.length
  }

  private def centroidArrayCol(m: Model): Column =
    array(m.centroids.map(c => array(c.map(lit): _*)): _*)

  /** Squared L2 distance of `e` to each centroid; returns the argmin
    * index — pure column expressions, no UDF. */
  private def assignCol(m: Model, embCol: String): Column = {
    val dists = m.centroids.zipWithIndex.map { case (c, i) =>
      val cLit = array(c.map(lit): _*)
      struct(
        aggregate(zip_with(col(embCol), cLit, (x, y) => (x - y) * (x - y)),
          lit(0.0), (s, v) => s + v).as("dist"),
        lit(i).as("idx"))
    }
    // argmin via array_min over (dist, idx) structs — struct ordering
    // compares dist first, idx breaks exact ties deterministically
    array_min(array(dists: _*)).getField("idx")
  }

  /** Fit the coarse quantizer on a BOUNDED training sample — same
    * FAISS recipe as [[Pq.fit]]: centroid quality converges with
    * ~100k vectors, so training on the full corpus (maxIter corpus
    * passes) is pure waste at 100 TB. One distributed pass takes the
    * `sampleCap` rows with the smallest xxhash64(vector) (TakeOrdered:
    * map-side top-k, deterministic regardless of partitioning) to the
    * driver; the centroids then train locally ([[LocalKMeans]] —
    * bit-deterministic, no scheduler round-trips). A corpus under the
    * cap trains on everything. */
  def fit(emb: DataFrame, embCol: String, nLists: Int, seed: Long = 42L,
      sampleCap: Int = 100000): Model = {
    val sample: Array[Array[Double]] = emb
      .select(col(embCol).cast(ArrayType(DoubleType)).as("_e"))
      .orderBy(xxhash64(col("_e")))
      .limit(sampleCap)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    Model(LocalKMeans.train(sample, nLists, iters = 20, seed = seed))
  }

  /** Assign every vector to its inverted list. */
  def assign(emb: DataFrame, embCol: String, model: Model): DataFrame =
    emb.withColumn("_ed", col(embCol).cast(ArrayType(DoubleType)))
      .withColumn("ivf_list", assignCol(model, "_ed"))
      .drop("_ed")

  // ---- persisted index (round-2: the IVF twin of ext.AnnIndex) ----

  /** Build + persist: inverted lists as `ivf_list=` parquet partitions
    * (one file per list) with the centroid matrix as a tiny sidecar
    * table. One corpus pass; probes then read nProbe directories. */
  def buildPersisted(emb: DataFrame, embCol: String, nLists: Int,
      dir: String, seed: Long = 42L): Model = {
    val m = fit(emb, embCol, nLists, seed)
    assign(emb, embCol, m)
      .repartition(col("ivf_list"))
      .write.mode("overwrite").partitionBy("ivf_list")
      .parquet(s"$dir/data")
    val spark = emb.sparkSession
    import spark.implicits._
    m.centroids.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("idx", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    m
  }

  def loadModel(spark: org.apache.spark.sql.SparkSession, dir: String): Model = {
    val rows = StoreRead.parquet(spark, s"$dir/centroids")
      .orderBy("idx").collect()
    Model(rows.map(_.getSeq[Double](1).toArray))
  }

  /** nProbe nearest list ids to a query vector — driver-side argsort
    * over the (tiny) centroid matrix; ties break by index like the
    * relational path. */
  def probeLists(m: Model, queryVec: Seq[Double], nProbe: Int): Seq[Int] =
    m.centroids.zipWithIndex.map { case (c, i) =>
      val d = c.indices.foldLeft(0.0) { (s, j) =>
        val diff = queryVec(j) - c(j); s + diff * diff
      }
      (d, i)
    }.sortBy(identity).take(nProbe).map(_._2).toSeq

  /** Top-k against the persisted index: `ivf_list IN probes` becomes
    * `PartitionFilters` — nProbe of nLists directories scanned, exact
    * cosine only inside them. */
  def persistedTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
      dataSchema: StructType, embCol: String, queryVec: Seq[Double],
      k: Int, nProbe: Int): DataFrame = {
    val m = loadModel(spark, dir)
    val probes = probeLists(m, queryVec, nProbe)
    val q = array(queryVec.map(lit): _*)
    spark.read
      .schema(StructType(dataSchema.fields :+
        StructField("ivf_list", IntegerType, nullable = false)))
      .parquet(s"$dir/data")
      .filter(col("ivf_list").isin(probes: _*))
      .withColumn("_e", col(embCol).cast(ArrayType(DoubleType)))
      .withColumn("score", Similarity.cosine(col("_e"), q))
      .drop("_e")
      .orderBy(desc("score"))
      .limit(k)
  }

  /** ANN top-k: probe the nProbe centroids nearest to the query
    * vector, exact cosine within their lists only. */
  def annTopK(emb: DataFrame, embCol: String, model: Model,
      queryId: Column, idCol: String, k: Int, nProbe: Int): DataFrame = {
    val assigned = assign(emb, embCol, model)
      .withColumn("_e", col(embCol).cast(ArrayType(DoubleType)))
    val q = assigned.filter(col(idCol) === queryId)
      .select(col("_e").as("_qe"))
    // rank centroids by distance to the query (tiny: nLists rows)
    val centroids = assigned.sparkSession.range(model.nLists)
      .withColumn("c", element_at(centroidArrayCol(model), col("id").cast(IntegerType) + 1))
      .crossJoin(broadcast(q))
      .withColumn("dist",
        aggregate(zip_with(col("c"), col("_qe"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (s, v) => s + v))
      .orderBy(asc("dist"), asc("id"))
      .limit(nProbe)
      .select(col("id").cast(IntegerType).as("ivf_list"))
    assigned.filter(col(idCol) =!= queryId)
      .join(broadcast(centroids), Seq("ivf_list"))
      .crossJoin(broadcast(q))
      .withColumn("score", Similarity.cosine(col("_e"), col("_qe")))
      .drop("_e", "_qe")
      .orderBy(desc("score"), asc(idCol))
      .limit(k)
  }
}
