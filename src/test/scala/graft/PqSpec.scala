package graft

import org.apache.spark.sql.functions._

import graft.ext.{IvfPq, Pq, Similarity}

/** Product quantization: encode/ADC/re-rank correctness, exactness in
  * the refine-everything limit, NULL discipline for zero vectors, and
  * the persisted IVF-PQ index's partition pruning + parity. */
class PqSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")
  // m=16 (4-dim subspaces) × k=32: measured recall@10 = 1.0 at ADC
  // top-60 on this corpus; m=8/k=16 drops to ~0.8 — subspace count
  // buys more accuracy than codebook size here
  private lazy val cb = Pq.fit(emb, "embedding", m = 16, k = 32)
  private lazy val encoded = Pq.encode(emb, "embedding", cb).localCheckpoint()

  private def exactTopK(k: Int, qv: Seq[Double]): Seq[Long] = {
    val q = array(qv.map(lit): _*)
    emb.withColumn("score",
        Similarity.cosine(col("embedding").cast("array<double>"), q))
      .orderBy(desc_nulls_last("score"), col("vec_id"))
      .limit(k).select("vec_id").collect().map(_.getLong(0)).toSeq
  }

  private def queryVec(id: Long): Seq[Double] =
    emb.filter(col("vec_id") === id).select("embedding")
      .head.getSeq[Float](0).map(_.toDouble)

  test("codes are m ints in [0, k); the scan payload shrinks accordingly") {
    val rows = encoded.select("pq_code").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getSeq[Int](0)
      assert(c.length === 16)
      assert(c.forall(x => x >= 0 && x < 32))
    }
  }

  test("refine = corpus size makes PQ top-k EXACTLY the brute-force top-k") {
    val qv = queryVec(0L)
    val n = emb.count().toInt
    val got = Pq.topK(encoded, "embedding", "vec_id", cb, qv, k = 10,
      refine = n).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got === exactTopK(10, qv))
  }

  test("ADC candidates at modest refine recover the exact top-k (recall)") {
    // seeded quantizers + structured corpus: every exact top-10 member
    // must appear in the ADC top-60 for each of 5 probe queries
    (0L until 5L).foreach { qid =>
      val qv = queryVec(qid)
      val adcTop = encoded
        .select(col("vec_id"), Pq.adcCosine(cb, qv).as("a"))
        .orderBy(desc_nulls_last("a"), col("vec_id"))
        .limit(60).collect().map(_.getLong(0)).toSet
      val exact = exactTopK(10, qv)
      val recall = exact.count(adcTop.contains) / 10.0
      assert(recall >= 0.9, s"qid=$qid recall=$recall")
    }
  }

  test("zero vectors score NULL in ADC and never enter the top-k") {
    import spark.implicits._
    val z = Seq((999999L, Seq.fill(64)(0f), 0))
      .toDF("vec_id", "embedding", "label")
    val withZero = Pq.encode(emb.unionByName(z), "embedding", cb)
    val qv = queryVec(0L)
    val adc = withZero.filter(col("vec_id") === 999999L)
      .select(Pq.adcCosine(cb, qv)).head
    assert(adc.isNullAt(0), "zero-norm ADC score must be NULL")
    val top = Pq.topK(withZero, "embedding", "vec_id", cb, qv,
      k = 10, refine = 50).select("vec_id").collect().map(_.getLong(0))
    assert(!top.contains(999999L))
  }

  test("recallAtK: full refine is exact; recall is monotone in refine") {
    import spark.implicits._
    val n = emb.count().toInt
    def recalls(refine: Int): Map[Long, Double] =
      Pq.recallAtK(encoded, "embedding", "vec_id", cb,
        queryIds = Seq(0L, 1L, 2L), k = 10, refine = refine)
        .select("query_id", "recall").as[(Long, Double)].collect().toMap
    val full = recalls(n)
    assert(full.values.forall(_ === 1.0), s"full-refine recall must be 1.0: $full")
    val r20 = recalls(20)
    val r60 = recalls(60)
    assert(r20.keySet === Set(0L, 1L, 2L))
    assert(r60.forall { case (q, r) => r >= r20(q) },
      s"recall must be monotone in refine: r20=$r20 r60=$r60")
  }

  test("persisted IVF-PQ probes prune partitions and match the inline path") {
    val idxDir = tmpDir("ivfpq")
    val idx = IvfPq.buildPersisted(emb, "embedding", nLists = 8,
      m = 16, k = 32, idxDir)
    val qv = queryVec(3L)
    val q = IvfPq.persistedTopK(spark, idxDir, emb.schema, "embedding",
      "vec_id", qv, k = 10, nProbe = 3, refine = 50)
    q.collect() // finalize adaptive stages before inspecting the plan
    // plan prunes to ≤ nProbe of nLists directories (leaves live under
    // AQE wrapper nodes — traverse through them)
    def leaves(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        leaves(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        leaves(s.plan)
      case _ if p.children.isEmpty => Seq(p)
      case _ => p.children.flatMap(leaves)
    }
    val scanned = leaves(q.queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }
    assert(scanned.nonEmpty && scanned.forall(_ <= 3), s"scanned=$scanned")
    // parity: the same probes computed inline give the same rows
    val probes = IvfIndex_probeLists(idx, qv, 3)
    val inline = Pq.topK(
      graft.ext.IvfIndex.assign(emb, "embedding", idx.ivf)
        .filter(col("ivf_list").isin(probes: _*))
        .transform(d => Pq.encode(d, "embedding", idx.pq)),
      "embedding", "vec_id", idx.pq, qv, k = 10, refine = 50)
    val a = q.select("vec_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = inline.select("vec_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a === b)
  }

  private def IvfIndex_probeLists(idx: IvfPq.Index, qv: Seq[Double], n: Int) =
    graft.ext.IvfIndex.probeLists(idx.ivf, qv, n)

  test("batch probe: one pass, union-of-lists pruning, per-query exact parity") {
    import spark.implicits._
    // CLUSTERED corpus (three tight orthogonal clusters): this is the
    // data shape where IVF pruning is actually sound, so the batch
    // probe must (a) read only the probed lists' union and (b) still
    // return each query's global exact top-k
    val axes = Seq(
      Array(1.0f, 0f, 0f, 0f), Array(0f, 1.0f, 0f, 0f), Array(0f, 0f, 1.0f, 0f))
    val rows = for {
      c <- 0 until 3; i <- 0 until 30
    } yield {
      val v = axes(c).clone()
      v((c + 1) % 4) = 0.01f * (i % 5) // deterministic jitter
      ((c * 100 + i).toLong, v, s"c$c")
    }
    val cemb = rows.toDF("vec_id", "embedding", "label")
    val idxDir = tmpDir("ivfpq-batch")
    IvfPq.buildPersisted(cemb, "embedding", nLists = 3, m = 4, k = 8, idxDir)
    val queries = Seq(
      0L -> Seq(0.99, 0.01, 0.0, 0.0),
      1L -> Seq(0.0, 0.98, 0.0, 0.02))
    val got = IvfPq.topKBatch(spark, idxDir, cemb.schema, "embedding",
      "vec_id", queries, k = 5, nProbe = 1)
    got.collect() // finalize adaptive stages before inspecting the plan
    // union-of-probed-lists pruning: 2 queries × 1 probe → ≤ 2 of the
    // 3 list directories are ever read
    def leaves(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        leaves(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        leaves(s.plan)
      case _ if p.children.isEmpty => Seq(p)
      case _ => p.children.flatMap(leaves)
    }
    val scanned = leaves(got.queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }
    assert(scanned.nonEmpty && scanned.forall(_ <= 2), s"scanned=$scanned")
    // per-query parity with global exact brute force (clusters are
    // separated, so the probed list contains every true neighbor)
    val byQ = got.select("query_id", "rank", "vec_id")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.sortBy(_._2).map(_._3).toSeq }
    queries.foreach { case (qid, qv) =>
      val exact = cemb.withColumn("s", round(Similarity.cosine(
          col("embedding").cast("array<double>"), array(qv.map(lit): _*)), 6))
        .orderBy(desc("s"), asc("vec_id"))
        .limit(5).select("vec_id").as[Long].collect().toSeq
      assert(byQ(qid) === exact, s"query $qid: ${byQ(qid)} vs exact $exact")
    }
  }
}
