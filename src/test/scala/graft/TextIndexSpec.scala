package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, TextIndex}

/** Inverted text index: probe pruning and scan parity. */
class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
    .select("doc_id", "text")

  private def scanSearchAll(terms: Seq[String]): Set[Long] =
    docs.filter(terms.map(t =>
        array_contains(Dedup.words(col("text")), t)).reduce(_ && _))
      .select("doc_id").as[Long].collect().toSet

  test("searchAll equals the full-scan answer") {
    val idxDir = tmpDir("textidx")
    TextIndex.build(docs, "doc_id", "text", idxDir, nBuckets = 16)
    val terms = Seq("spark", "table")
    val all = TextIndex.searchAll(spark, idxDir, "doc_id", terms)
      .as[Long].collect().toSet
    assert(all === scanSearchAll(terms))
    assert(all.nonEmpty)
  }

  test("a probe prunes to the query terms' bucket directories at plan time") {
    val idxDir = tmpDir("textidx-prune")
    TextIndex.build(docs, "doc_id", "text", idxDir, nBuckets = 16)
    val q = TextIndex.postings(spark, idxDir, Seq("spark", "vector"))
    val p = q.queryExecution.executedPlan
    val scanned = p.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }
    assert(scanned.nonEmpty && scanned.forall(_ <= 2), s"scanned=$scanned")
    // and the term filter is pushed to the parquet scan
    assert(p.toString.contains("PushedFilters"), p.toString)
    assert(p.toString.contains("In(term"), p.toString)
  }

  test("proximity search equals the position scan; slop boundary is exact") {
    val idxDir = tmpDir("textidx-prox")
    TextIndex.buildPositional(docs, "doc_id", "text", idxDir, nBuckets = 16)
    val got = TextIndex.proximitySearch(spark, idxDir, "doc_id",
      "slow", "query", slop = 2).as[Long].collect().toSet
    val pos = docs.select(col("doc_id"),
      posexplode(Dedup.words(col("text"))).as(Seq("pos", "term")))
    val a = pos.filter(col("term") === "slow")
      .select(col("doc_id"), col("pos").as("pa"))
    val b = pos.filter(col("term") === "query")
      .select(col("doc_id").as("doc_b"), col("pos").as("pb"))
    val scan = a.join(b, col("doc_id") === col("doc_b") &&
        abs(col("pa") - col("pb")) <= 2)
      .select("doc_id").as[Long].collect().toSet
    assert(got === scan)
    assert(got.nonEmpty)

    // window-quantization boundary: distance == slop matches (adjacent
    // windows), distance == slop+1 does not
    val tiny = Seq((1L, "slow a query"), (2L, "slow a b query"),
      (3L, "slow query"), (4L, "query x slow")).toDF("doc_id", "text")
    val tinyIdx = tmpDir("textidx-prox-tiny")
    TextIndex.buildPositional(tiny, "doc_id", "text", tinyIdx, nBuckets = 4)
    val hits = TextIndex.proximitySearch(spark, tinyIdx, "doc_id",
      "slow", "query", slop = 2).as[Long].collect().toSet
    assert(hits === Set(1L, 3L, 4L)) // doc 2 is distance 3; order-free
  }

  test("trigram substring search equals the LIKE scan; short patterns refuse") {
    val idxDir = tmpDir("textidx-tg")
    TextIndex.buildTrigram(docs, "doc_id", "text", idxDir, nBuckets = 16)
    val pattern = "fast merge"
    val got = TextIndex.substringSearch(spark, idxDir, docs,
      "doc_id", "text", pattern).select("doc_id").as[Long].collect().toSet
    val scan = docs.filter(lower(col("text")).contains(pattern))
      .select("doc_id").as[Long].collect().toSet
    assert(got === scan)
    assert(got.nonEmpty)
    intercept[IllegalArgumentException] {
      TextIndex.substringSearch(spark, idxDir, docs, "doc_id", "text", "ab")
    }
  }

  test("bm25 ranking equals the from-text recompute") {
    val idxDir = tmpDir("textidx-bm25")
    TextIndex.buildPositional(docs, "doc_id", "text", idxDir, nBuckets = 16)
    val terms = Seq("spark", "table", "vector")

    def recompute(corpus: org.apache.spark.sql.DataFrame,
        k: Int): Seq[(Long, Double)] = {
      val w = corpus.select(col("doc_id"),
        explode(Dedup.words(col("text"))).as("term"))
      val len = w.groupBy("doc_id").agg(count(lit(1)).as("len"))
      val g = len.agg(count(lit(1)), sum("len")).head
      val n = g.getLong(0); val avgdl = g.getLong(1).toDouble / n
      val tf = w.filter(col("term").isin(terms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(countDistinct("doc_id").as("df"))
      tf.join(df, "term").join(len, "doc_id")
        .withColumn("_s",
          log((lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
            * col("tf") * lit(2.2)
            / (col("tf") + lit(1.2) *
              (lit(0.25) + lit(0.75) * col("len") / lit(avgdl))))
        .groupBy("doc_id").agg(round(sum("_s"), 6).as("score"))
        .orderBy(desc("score"), asc("doc_id")).limit(k)
        .as[(Long, Double)].collect().toSeq
    }

    val got = TextIndex.bm25Search(spark, idxDir, "doc_id", terms, k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(got === recompute(docs, 10))
    assert(got.nonEmpty && got.map(_._2) === got.map(_._2).sorted.reverse)
  }

  test("phrase search equals the adjacent-word scan; repeated words") {
    val idxDir = tmpDir("textidx-pos")
    TextIndex.buildPositional(docs, "doc_id", "text", idxDir, nBuckets = 16)
    val phrase = "fast merge"
    val got = TextIndex.phraseSearch(spark, idxDir, "doc_id", phrase)
      .as[Long].collect().toSet
    // scan truth: consecutive pair in the word sequence
    val scan = docs.as[(Long, String)].collect().filter { case (_, text) =>
      "[a-z]+".r.findAllIn(text.toLowerCase).toSeq
        .sliding(2).exists(_.mkString(" ") == phrase)
    }.map(_._1).toSet
    assert(got === scan)
    assert(got.nonEmpty)
    // word-membership alone is NOT phrase match: strictly fewer hits
    val and = TextIndex.searchAll(spark, idxDir, "doc_id",
      phrase.split(" ").toSeq).as[Long].collect().toSet
    assert(got.subsetOf(and) && got != and,
      s"phrase should be stricter than AND (${got.size} vs ${and.size})")

    // repeated words anchor correctly
    val repDir = tmpDir("textidx-pos-rep")
    val repDocs = Seq(
      (90010L, "alpha beta alpha beta gamma"), // has "beta alpha beta"
      (90011L, "beta alpha gamma beta alpha")) // pair only, not triple
      .toDF("doc_id", "text")
    TextIndex.buildPositional(repDocs, "doc_id", "text", repDir, nBuckets = 4)
    val rep = TextIndex.phraseSearch(spark, repDir, "doc_id",
      "beta alpha beta").as[Long].collect().toSet
    assert(rep === Set(90010L))
  }

  test("fuzzy expansion equals the brute-force vocabulary scan at both depths") {
    val idxDir = tmpDir("textidx-fuz")
    TextIndex.buildFuzzy(docs, "text", idxDir, nBuckets = 16, depth = 2)
    val vocab = docs
      .select(explode(array_distinct(Dedup.words(col("text")))).as("term"))
      .distinct()
    def brute(q: String, d: Int): Set[(String, Int)] = vocab
      .withColumn("dist", levenshtein(col("term"), lit(q)))
      .filter(col("dist") <= d)
      .as[(String, Int)].collect().toSet
    for (q <- Seq("part", "sow", "vektor"); d <- Seq(1, 2)) {
      val got = TextIndex.fuzzyExpandAll(spark, idxDir, Seq(q), maxEdit = d)
        .select("term", "dist").as[(String, Int)].collect().toSet
      assert(got === brute(q, d), s"q=$q maxEdit=$d")
    }
    // "part" at 2 hits multiple vocabulary neighbors (the query fixture)
    assert(TextIndex.fuzzyExpandAll(spark, idxDir, Seq("part"), 2).count() >= 3)
    // absent neighborhoods come back empty, not error
    assert(TextIndex.fuzzyExpandAll(spark, idxDir, Seq("zzzzzzzz"), 2)
      .count() === 0L)
    // maxEdit beyond the indexed depth refuses (candidates would be unsound)
    intercept[IllegalArgumentException] {
      TextIndex.fuzzyExpandAll(spark, idxDir, Seq("part"), maxEdit = 3)
    }
  }

  test("fuzzy probe prunes to the query variants' bucket directories") {
    val idxDir = tmpDir("textidx-fuz-prune")
    TextIndex.buildFuzzy(docs, "text", idxDir, nBuckets = 16, depth = 2)
    val q = TextIndex.fuzzyExpandAll(spark, idxDir, Seq("part"), maxEdit = 2)
    val nVarBuckets = TextIndex.deleteVariants("part", 2).size
    q.collect() // finalize adaptive stages before inspecting the plan
    def leaves(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        leaves(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        leaves(s.plan)
      case _ if p.children.isEmpty => Seq(p)
      case _ => p.children.flatMap(leaves)
    }
    val scanned = leaves(q.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }
    assert(scanned.nonEmpty && scanned.forall(_ <= nVarBuckets),
      s"scanned=$scanned variants=$nVarBuckets")
  }

  test("every single-edit shape lands inside the depth-1 neighborhood") {
    // substitution / insertion / deletion each share a ≤1-deletion
    // variant; transposition is distance 2 and needs depth 2
    val tiny = Seq((1L, "alpha"), (2L, "alpfa"), (3L, "alpha x"),
      (4L, "aloha zz")).toDF("doc_id", "text")
    val d1 = tmpDir("textidx-fuz-d1")
    TextIndex.buildFuzzy(tiny, "text", d1, nBuckets = 4, depth = 1)
    val got1 = TextIndex.fuzzyExpandAll(spark, d1, Seq("alpha"), 1)
      .select("term", "dist").as[(String, Int)].collect().toMap
    assert(got1 === Map("alpha" -> 0, "alpfa" -> 1, "aloha" -> 1))
    val d2 = tmpDir("textidx-fuz-d2")
    TextIndex.buildFuzzy(Seq((1L, "alhpa alpha"))
      .toDF("doc_id", "text"), "text", d2, nBuckets = 4, depth = 2)
    val got2 = TextIndex.fuzzyExpandAll(spark, d2, Seq("alpha"), 2)
      .select("term", "dist").as[(String, Int)].collect().toMap
    assert(got2 === Map("alpha" -> 0, "alhpa" -> 2))
  }

  test("fuzzySearch equals the per-word levenshtein scan") {
    val fuzDir = tmpDir("textidx-fuz-e2e")
    val wordDir = tmpDir("textidx-fuz-word")
    TextIndex.buildFuzzy(docs, "text", fuzDir, nBuckets = 16, depth = 2)
    TextIndex.build(docs, "doc_id", "text", wordDir, nBuckets = 16)
    val got = TextIndex.fuzzySearch(spark, fuzDir, wordDir, "doc_id",
      "part", maxEdit = 2).as[(Long, String, Int)].collect().toSet
    val scan = docs.select(col("doc_id"),
        explode(array_distinct(Dedup.words(col("text")))).as("term"))
      .withColumn("dist", levenshtein(col("term"), lit("part")))
      .filter(col("dist") <= 2)
      .as[(Long, String, Int)].collect().toSet
    assert(got === scan)
    assert(got.nonEmpty)
    // no matches → empty result with the contract schema, not a throw
    val none = TextIndex.fuzzySearch(spark, fuzDir, wordDir, "doc_id",
      "qqqqqqqq", maxEdit = 2)
    assert(none.columns.toSeq === Seq("doc_id", "term", "dist"))
    assert(none.count() === 0L)
    // the batched multi-input probe equals the per-input union
    val batched = TextIndex.fuzzySearchAll(spark, fuzDir, wordDir,
      "doc_id", Seq("part", "sow"), maxEdit = 2)
      .as[(String, Long, String, Int)].collect().toSet
    val perInput = Seq("part", "sow").flatMap { q =>
      TextIndex.fuzzySearch(spark, fuzDir, wordDir, "doc_id", q, 2)
        .as[(Long, String, Int)].collect()
        .map { case (id, t2, d2) => (q, id, t2, d2) }
    }.toSet
    assert(batched === perInput)
    assert(batched.nonEmpty)
  }

  test("substringSearch does not FORCE a broadcast of the candidate set") {
    // a pattern of common trigrams can make candidates ≈ corpus; the
    // join must stay AQE-sized (runtime broadcast only if small), so
    // the LOGICAL plan carries no broadcast hint
    val idxDir = tmpDir("textidx-tg-nohint")
    TextIndex.buildTrigram(docs, "doc_id", "text", idxDir, nBuckets = 16)
    val q = TextIndex.substringSearch(spark, idxDir, docs,
      "doc_id", "text", "the and")
    val joinHints = q.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.hint
    }
    assert(joinHints.nonEmpty)
    assert(joinHints.forall(h => h.leftHint.isEmpty && h.rightHint.isEmpty),
      s"unexpected join strategy hint: $joinHints")
  }
}
