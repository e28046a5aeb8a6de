package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity}

class ExtSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 0
    (2L, "completely different sentence about spark engines"),
    (3L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (4L, "spark engines process completely different sentence")) // perm of 2
    .toDF("doc_id", "text")

  test("MinHash LSH candidates include exact dups") {
    val pairs = Dedup.lshCandidatePairs(corpus, "doc_id", "text", nBands = 4)
    val cand = pairs.as[(Long, Long)].collect().toSet
    assert(cand.contains((0L, 3L))) // exact dup always shares all bands
  }

  test("prefixJaccardJoin equals the naive all-pairs join (exact, no recall loss)") {
    // a larger varied corpus: templated sentences with word edits so
    // pairs straddle the 3/5 boundary in both directions
    val docs = (0 until 40).map { i =>
      val base = Seq("alpha", "beta", "gamma", "delta", "epsilon",
        "zeta", "eta", "theta", "iota", "kappa")
      val ws = base.take(5 + i % 5) ++ Seq(s"tail${i % 7}", s"doc${i % 11}")
      (i.toLong, ws.mkString(" "))
    }.toDF("doc_id", "text")
    val fast = Dedup.prefixJaccardJoin(docs, "doc_id", "text", 3, 5)
      .select("id_a", "id_b", "n_inter", "n_union")
      .as[(Long, Long, Long, Long)].collect().toSet
    val sets = docs.select(col("doc_id"),
      array_distinct(Dedup.words(col("text"))).as("ws"))
    val naive = sets.select(col("doc_id").as("id_a"), col("ws").as("wa"))
      .join(sets.select(col("doc_id").as("id_b"), col("ws").as("wb")),
        col("id_a") < col("id_b"))
      .withColumn("ni", size(array_intersect(col("wa"), col("wb"))).cast("long"))
      .withColumn("nu", (size(col("wa")) + size(col("wb"))).cast("long") - col("ni"))
      .filter(col("ni") * 5 >= col("nu") * 3)
      .select("id_a", "id_b", "ni", "nu")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(naive.nonEmpty, "fixture must produce qualifying pairs")
    assert(fast === naive)
  }

  test("prefixJaccardJoin boundary: J exactly num/den is kept; empty word sets excluded") {
    // |∩| = 3, |∪| = 5 → exactly 3/5: sets {a b c d}, {a b c e}? that's 3/5 ✓
    val docs = Seq(
      (0L, "a b c d"), (1L, "a b c e"),       // J = 3/5 exactly → kept
      (2L, "a b x y z"), (3L, "q r s t u"),   // J = 0 → dropped
      (4L, "12345 67890"), (5L, "999 888"))   // no [a-z]+ tokens → excluded
      .toDF("doc_id", "text")
    val out = Dedup.prefixJaccardJoin(docs, "doc_id", "text", 3, 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out.contains((0L, 1L)), "exact-boundary pair must survive")
    assert(!out.exists { case (a, b) => a >= 4L || b >= 4L },
      "empty word-set docs must never pair (0/0 is not a match)")
    intercept[IllegalArgumentException] {
      Dedup.prefixJaccardJoin(docs, "doc_id", "text", 5, 5)
    }
  }

  test("incrementalComponents: batch folds equal the one-shot clustering") {
    // batch 2 merges components formed separately in batches 0 and 1,
    // and adds a brand-new pair — the hard cases: cross-batch merge,
    // new-node entry, untouched component (40,41 never revisited)
    val batches = Seq(
      Seq((1L, 2L), (10L, 11L), (20L, 21L), (40L, 41L)),
      Seq((2L, 3L), (21L, 22L), (30L, 31L)),
      Seq((3L, 10L), (22L, 30L), (50L, 51L)))
    val empty = Seq.empty[(Long, Long)].toDF("id", "component")
    val folded = batches.foldLeft(empty) { (labels, b) =>
      Dedup.incrementalComponents(labels, b.toDF("id_a", "id_b"))
        .components.localCheckpoint(true)
    }
    val full = Dedup.connectedComponents(
      batches.flatten.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toSet
    assert(folded.as[(Long, Long)].collect().toSet === full)
    // an edge internal to an existing component changes nothing
    val noop = Dedup.incrementalComponents(folded,
      Seq((1L, 3L)).toDF("id_a", "id_b"))
    assert(noop.components.as[(Long, Long)].collect().toSet === full)
    assert(noop.converged)
  }

  test("simhash16 is deterministic, equal for equal word sets, and pairs respect hamming") {
    val sh = corpus
      .withColumn("ws", array_distinct(Dedup.words(col("text"))))
      .select(col("doc_id"), Dedup.simhash16("ws").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(sh(0L) === sh(3L))          // identical text
    assert(sh.values.forall(v => v >= 0 && v < 65536))

    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    val pairSet = pairs.map(t => (t._1, t._2)).toSet
    assert(pairSet.contains((0L, 3L))) // hamming 0
    assert(pairSet.contains((0L, 1L))) // one word swapped
    assert(pairSet.contains((2L, 4L))) // one word swapped
    assert(pairs.forall(_._3 <= 3))
  }

  test("LSH buckets put identical directions together; annTopK finds the neighbour") {
    val emb = (0 until 50).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 2.0f, 3.0f, 4.0f)
      else Array(-4.0f, 3.0f, -2.0f, 1.0f)
      (i.toLong, base.map(_ * (1.0f + i / 100.0f)))
    }.toDF("vec_id", "embedding")
    val buckets = Similarity.lshBuckets(emb, "embedding", nBits = 8)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    // scaled copies of the same direction always share a bucket
    assert(buckets(0L) === buckets(2L))
    assert(buckets(1L) === buckets(3L))

    val ann = Similarity.annTopK(emb, "embedding", lit(0L), "vec_id", 3)
      .select("vec_id", "score").as[(Long, Double)].collect()
    assert(ann.nonEmpty)
    assert(ann.forall { case (id, score) => id % 2 == 0 && score > 0.999 })
  }

  test("recallAtK: full probe radius reproduces exact; recall is monotone in probe") {
    // real corpus slice: 200 embeddings, 5 query points
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 200)
    val qids = Seq(3L, 17L, 42L, 99L, 150L)
    def meanRecall(probe: Int): Double =
      Similarity.recallAtK(emb, "embedding", "vec_id", qids, k = 10,
        nBits = 8, probeHamming = probe)
        .agg(avg("recall")).as[Double].collect().head
    val r0 = meanRecall(0)
    val r2 = meanRecall(2)
    val rFull = meanRecall(8) // probe radius = nBits → scans everything
    assert(rFull === 1.0, s"full-probe recall must be exact, got $rFull")
    assert(r0 <= r2 + 1e-9 && r2 <= 1.0, s"monotone: $r0 <= $r2 <= 1")
    // per-query rows are complete and well-formed
    val rows = Similarity.recallAtK(emb, "embedding", "vec_id", qids, k = 10)
      .collect()
    assert(rows.length === qids.length)
    assert(rows.forall(r => r.getLong(2) === 10L)) // n_exact = k
  }

  test("cosineNearDupPairs finds same-direction pairs without cross join") {
    val emb = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f, 4.0f)),
      (1L, Array(2.0f, 4.0f, 6.0f, 8.0f)),
      (2L, Array(-1.0f, 5.0f, 0.5f, -2.0f))).toDF("vec_id", "embedding")
    val pairs = Similarity
      .cosineNearDupPairs(emb, "embedding", "vec_id", threshold = 0.999)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(t => (t._1, t._2)).toSeq === Seq((0L, 1L)))
  }

  test("zero-norm embeddings never pass near-dup thresholds (NaN guard)") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f)),   // zero vector: failed embed
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(
      emb, "embedding", "vec_id", threshold = 0.9, nBits = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      s"zero vector declared near-dup: $pairs")
  }

  test("ANN survives embeddings wider than 512 dims (matrix sized to data)") {
    val d = 768
    def v(seed: Int): Array[Float] = Array.tabulate(d)(i =>
      (math.sin(seed * 31 + i).toFloat))
    val base = v(1)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val emb = Seq((0L, base), (1L, near), (2L, v(7)), (3L, v(13)))
      .toDF("vec_id", "embedding")
    // buckets must not all collapse to 0 (the old fixed-512 matrix
    // zeroed every oversized signature)
    val buckets = Similarity.lshBuckets(emb, "embedding", nBits = 8)
      .select("bucket").as[Long].collect().toSet
    assert(buckets.exists(_ != 0L), s"all-zero buckets: $buckets")
    // and the persisted index probe agrees driver-to-executor
    val dir = tmpDir("ann768") + "/idx"
    graft.ext.AnnIndex.build(emb, "embedding", nBits = 8, dir)
    val got = graft.ext.AnnIndex.topK(spark, dir, emb.schema, "embedding",
      base.map(_.toDouble).toSeq, k = 2, nBits = 8, probeHamming = 1)
      .select("vec_id").as[Long].collect().toSeq
    assert(got.nonEmpty, "probe found nothing: driver/executor signature mismatch")
    assert(got.head === 0L || got.head === 1L)
  }

  test("no-word documents are excluded from signatures and ledgered, never mass-paired") {
    val mixed = Seq(
      (10L, "12345 67890"),          // digits only: no [a-z] words
      (11L, "完全に異なる文書"),        // CJK: no [a-z] words
      (12L, "третий документ"),      // Cyrillic: no [a-z] words
      (13L, "the quick brown fox"),
      (14L, "the quick brown foxes")).toDF("doc_id", "text")
    // simhash: the three zero-signal docs must NOT pair with each other
    val sp = Dedup.simhashPairs(mixed, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!sp.exists(p => Set(10L, 11L, 12L)(p._1) || Set(10L, 11L, 12L)(p._2)),
      s"zero-signal docs paired: $sp")
    // minhash: excluded AND reported in the recall ledger
    val stats = Dedup.lshCandidatePairsWithStats(
      mixed, "doc_id", "text", nBands = 4)
    val ids = stats.pairs.select("id_a", "id_b").as[(Long, Long)].collect()
      .flatMap(p => Seq(p._1, p._2)).toSet
    assert(!ids.exists(Set(10L, 11L, 12L)))
    val ledger = stats.dropped
      .filter(col("sig") === Dedup.EmptyWordSet)
      .select("size").as[Long].collect().toSeq
    assert(ledger === Seq(3L), s"ledger: $ledger")
  }

  test("range join equals the naive inequality join, without nested loops") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val l = Seq((1L, 7L, ts(0)), (2L, 7L, ts(25)), (3L, 8L, ts(10)))
      .toDF("event_id", "user_id", "ts")
    val r = Seq((10L, 7L, ts(9)), (11L, 7L, ts(34)), (12L, 8L, ts(50)),
      (13L, 9L, ts(10))).toDF("event_id", "user_id", "ts")
    val tol = 10L * 60 * 1000 * 1000
    val got = graft.ext.RangeJoin.withinInterval(l, r, "user_id", "ts", tol)
      .select("l_event_id", "r_event_id").as[(Long, Long)].collect().toSet
    val naive = l.as("l").join(r.as("r"),
      col("l.user_id") === col("r.user_id") &&
        abs(unix_micros(col("l.ts")) - unix_micros(col("r.ts"))) <= tol)
      .select(col("l.event_id"), col("r.event_id"))
      .as[(Long, Long)].collect().toSet
    assert(got === naive)
    assert(got === Set((1L, 10L), (2L, 11L)))
  }

  test("overlapPairs: bounded-occupancy path equals the month-bucket path") {
    // random inclusive [start, end] day intervals across 3 keys,
    // including same-start ties (the id tiebreak) and multi-month spans
    val rnd = new scala.util.Random(42)
    def d(off: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.of(2026, 1, 1).plusDays(off.toLong))
    val rows = (1 to 60).map { i =>
      val s = rnd.nextInt(120)
      (rnd.nextInt(3).toLong, d(s), d(s + rnd.nextInt(80)), i.toLong, i % 4)
    }
    val df = rows.toDF("k", "st", "en", "id1", "id2")
    def canon(out: org.apache.spark.sql.DataFrame) =
      out.select("k", "a_id1", "a_id2", "b_id1", "b_id2", "overlap_days")
        .as[(Long, Long, Int, Long, Int, Long)].collect().toSet
    val bucket = graft.ext.RangeJoin.overlapPairs(
      df, "k", "st", "en", Seq("id1", "id2"))
    val bounded = graft.ext.RangeJoin.overlapPairs(
      df, "k", "st", "en", Seq("id1", "id2"), perKeyBound = Some(64))
    assert(bounded.columns.toSeq === bucket.columns.toSeq)
    assert(canon(bounded) === canon(bucket))
    assert(canon(bucket).nonEmpty)
  }

  test("overlapPairs: fused capPerKey equals the explicit window cut") {
    val rnd = new scala.util.Random(7)
    def d(off: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.of(2026, 1, 1).plusDays(off.toLong))
    // 3 keys x 40 rows each, same-start ties included: the cap (5)
    // genuinely truncates and the (start, ids) tiebreak decides who
    // survives — per-key-unique (id1, id2) keeps the cut deterministic
    val rows = (1 to 120).map { i =>
      val s = rnd.nextInt(30)
      (rnd.nextInt(3).toLong, d(s), d(s + rnd.nextInt(40)), i.toLong, i % 4)
    }
    val df = rows.toDF("k", "st", "en", "id1", "id2")
    def canon(out: org.apache.spark.sql.DataFrame) =
      out.select("k", "a_id1", "a_id2", "b_id1", "b_id2", "overlap_days")
        .as[(Long, Long, Int, Long, Int, Long)].collect().toSet
    val capped = df
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k")
          .orderBy("st", "id1", "id2")))
      .filter(col("_rk") <= 5).drop("_rk")
    val viaWindow = graft.ext.RangeJoin.overlapPairs(
      capped, "k", "st", "en", Seq("id1", "id2"), perKeyBound = Some(5))
    val fused = graft.ext.RangeJoin.overlapPairs(
      df, "k", "st", "en", Seq("id1", "id2"), perKeyBound = Some(5),
      capPerKey = Some(5))
    assert(fused.columns.toSeq === viaWindow.columns.toSeq)
    assert(canon(fused) === canon(viaWindow))
    assert(canon(fused).nonEmpty)
  }

  test("overlap_stats aggregator equals aggregating the capped pair path") {
    val rnd = new scala.util.Random(11)
    def d(off: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.of(2026, 1, 1).plusDays(off.toLong))
    // 4 keys x 35 rows, same-start ties, spans from 0 days (point
    // intervals) to multi-month; cap (6) genuinely truncates
    val rows = (1 to 140).map { i =>
      val s = rnd.nextInt(90)
      (rnd.nextInt(4).toLong, d(s), d(s + rnd.nextInt(50)), i.toLong, i % 3)
    }
    val df = rows.toDF("k", "st", "en", "id1", "id2")
    val viaPairs = graft.ext.RangeJoin.overlapPairs(
        df, "k", "st", "en", Seq("id1", "id2"), perKeyBound = Some(6),
        capPerKey = Some(6))
      .groupBy("k")
      .agg(count(lit(1)).as("n_pairs"),
        max("overlap_days").as("max_overlap_days"))
      .as[(Long, Long, Long)].collect().toSet
    val ovs = graft.ext.RangeJoin.overlap_stats(6)
    val viaAgg = df.groupBy("k")
      .agg(ovs(unix_date(col("st")), col("id1"),
        col("id2").cast("int"), unix_date(col("en"))).as("_st"))
      .filter(col("_st.n_pairs") > 0)
      .select(col("k"), col("_st.n_pairs"), col("_st.max_overlap_days"))
      .as[(Long, Long, Long)].collect().toSet
    assert(viaAgg === viaPairs)
    assert(viaAgg.nonEmpty)
  }

  test("range join: exact-tolerance boundary is inclusive across bucket edges") {
    def us(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val tol = 60L * 1000 * 1000 // 60 s
    // pairs exactly AT tolerance, straddling a bucket boundary, and 1us over
    val l = Seq((1L, 5L, us(60)), (2L, 5L, us(119)), (3L, 5L, us(240)))
      .toDF("event_id", "user_id", "ts")
    val r = Seq((10L, 5L, us(120)), (11L, 5L, us(301)))
      .toDF("event_id", "user_id", "ts")
    val got = graft.ext.RangeJoin.withinInterval(l, r, "user_id", "ts", tol)
      .select("l_event_id", "r_event_id").as[(Long, Long)].collect().toSet
    // (1,10): gap exactly 60s → included; (2,10): 1s → included;
    // (3,10): 120s → out; (3,11): 61s → out
    assert(got === Set((1L, 10L), (2L, 10L)))
  }

  test("asofJoin: tie between two right rows at the same time uses tiebreak") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, 9L, ts("2026-01-01 12:00:00")))
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (9L, ts("2026-01-01 12:00:00"), 20L, 5.0),
      (9L, ts("2026-01-01 12:00:00"), 10L, 3.0))
      .toDF("user_id", "ts", "rid", "v")
    val got = graft.ext.AsOf
      .asofJoin(left, right, "user_id", "ts", Seq("v"), tieBreak = Seq("rid"))
      .select("asof_v").as[Double].collect()
    // highest tiebreak (last in ascending rid order) wins the carry
    assert(got.toSeq === Seq(5.0))
  }

  test("asofJoin: backward match, inclusive ties, null before first right row") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 100L, ts("2026-01-01 10:00:00")),  // before any right row
      (2L, 100L, ts("2026-01-01 12:00:00")),  // exactly at right row → inclusive
      (3L, 100L, ts("2026-01-01 15:00:00")),  // after both → latest wins
      (4L, 200L, ts("2026-01-01 12:30:00")))  // other key
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (100L, ts("2026-01-01 12:00:00"), 1.0),
      (100L, ts("2026-01-01 14:00:00"), 2.0),
      (200L, ts("2026-01-01 12:15:00"), 9.0))
      .toDF("user_id", "ts", "v")
    val got = graft.ext.AsOf
      .asofJoin(left, right, "user_id", "ts", Seq("v"))
      .select("event_id", "asof_v")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L) === None)
    assert(got(2L) === Some(1.0))
    assert(got(3L) === Some(2.0))
    assert(got(4L) === Some(9.0))
  }

  test("LSH bucket cap: oversized buckets are reported, not silently dropped") {
    // 30 identical docs share every band → every bucket has 30 members,
    // far over a cap of 5; plus one unrelated doc.
    val boiler = ((0 until 30).map(i => (i.toLong, "same exact boilerplate text")) :+
      (99L, "unique snowflake document entirely")).toDF("doc_id", "text")
    val stats = Dedup.lshCandidatePairsWithStats(
      boiler, "doc_id", "text", nBands = 4, maxBucket = 5)
    val dropped = stats.dropped.as[(Int, String, Long)].collect()
    assert(dropped.nonEmpty, "oversized buckets must appear in the ledger")
    assert(dropped.forall(_._3 === 30L))
    assert(dropped.length === 4) // one oversized bucket per band
    assert(stats.pairs.count() === 0) // nothing paired from capped buckets
    // with an adequate cap nothing is dropped and all pairs appear
    val ok = Dedup.lshCandidatePairsWithStats(
      boiler, "doc_id", "text", nBands = 4, maxBucket = 1000)
    assert(ok.dropped.isEmpty)
    assert(ok.pairs.count() === 30L * 29 / 2)
  }

  test("cosine near-dup bucket cap: dropped buckets surface with sizes") {
    val emb = ((0 until 20).map(i => (i.toLong, Array(1.0f, 2.0f, 3.0f, 4.0f))) :+
      (99L, Array(-4.0f, 3.0f, -2.0f, 1.0f))).toDF("vec_id", "embedding")
    val stats = Similarity.cosineNearDupPairsWithStats(
      emb, "embedding", "vec_id", threshold = 0.999, maxBucket = 5)
    val dropped = stats.dropped.as[(Long, Long)].collect()
    assert(dropped.map(_._2).toSet === Set(20L))
    assert(stats.pairs.count() === 0)
    val ok = Similarity.cosineNearDupPairsWithStats(
      emb, "embedding", "vec_id", threshold = 0.999, maxBucket = 100)
    assert(ok.dropped.isEmpty)
    assert(ok.pairs.count() === 20L * 19 / 2)
  }

  test("connected components: chain longer than maxIter surfaces non-convergence") {
    // a 30-node path graph: min-label propagation moves the label one
    // hop per iteration, so maxIter=3 cannot converge
    val chain = (0 until 29).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val partial = Dedup.connectedComponentsWithStats(chain, maxIter = 3)
    assert(!partial.converged)
    assert(partial.iterations === 3)
    // partial labels are over-split, never over-merged
    assert(partial.components.select("component").distinct().count() > 1)
    // enough iterations → converged flag and a single component
    val full = Dedup.connectedComponentsWithStats(chain, maxIter = 40)
    assert(full.converged)
    assert(full.components.select("component").distinct().count() === 1)
    assert(full.components.count() === 30)
    assert(full.components.filter(col("component") =!= 0L).count() === 0)
  }

  test("persisted ANN index returns the same neighbours as the inline ANN path") {
    import graft.ext.AnnIndex
    val emb = (0 until 60).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 2.0f, 3.0f, 4.0f)
      else Array(-4.0f, 3.0f, -2.0f, 1.0f)
      (i.toLong, base.map(_ * (1.0f + i / 100.0f)))
    }.toDF("vec_id", "embedding")
    val idxDir = tmpDir("annidx")
    AnnIndex.build(emb, "embedding", nBits = 8, idxDir)
    val qv = emb.filter(col("vec_id") === 0L).select("embedding")
      .head.getSeq[Float](0).map(_.toDouble)
    val fromIndex = AnnIndex.topK(spark, idxDir, emb.schema, "embedding",
      qv, k = 100, nBits = 8, probeHamming = 1)
      .filter(col("vec_id") =!= 0L)
      .select("vec_id", "score").as[(Long, Double)].collect()
      .sortBy { case (id, s) => (-s, id) }.take(5).toSeq
    val inline = Similarity.annTopK(emb, "embedding", lit(0L), "vec_id",
      k = 5, nBits = 8, probeHamming = 1)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    assert(fromIndex === inline)
    // driver-side signature matches the executor-side one
    val sigDriver = AnnIndex.signatureOf(qv, 8)
    val sigSpark = Similarity.lshBuckets(emb.filter(col("vec_id") === 0L),
      "embedding", 8).select("bucket").as[Long].head()
    assert(sigDriver === sigSpark)
    // probe set size: 1 + nBits for hamming 1
    assert(AnnIndex.probeBuckets(sigDriver, 8, 1).distinct.length === 9)
  }

  test("persisted IVF index: probes prune to nProbe list partitions and match the in-memory path") {
    import graft.ext.IvfIndex
    val emb = (0 until 80).map { i =>
      val base = i % 4 match {
        case 0 => Array(1.0f, 2.0f, 3.0f, 4.0f)
        case 1 => Array(-4.0f, 3.0f, -2.0f, 1.0f)
        case 2 => Array(2.0f, -1.0f, 4.0f, -3.0f)
        case _ => Array(-1.0f, -2.0f, -3.0f, -4.0f)
      }
      (i.toLong, base.map(_ * (1.0f + i / 200.0f)))
    }.toDF("vec_id", "embedding")
    val dir = tmpDir("ivf-idx")
    val model = IvfIndex.buildPersisted(emb, "embedding", nLists = 4, dir)
    assert(IvfIndex.loadModel(spark, dir).centroids.map(_.toSeq).toSeq ===
      model.centroids.map(_.toSeq).toSeq)
    val qv = emb.filter(col("vec_id") === 0L).select("embedding")
      .head.getSeq[Float](0).map(_.toDouble)
    val q = IvfIndex.persistedTopK(spark, dir, emb.schema, "embedding",
      qv, k = 100, nProbe = 1)
    val fromIndex = q.filter(col("vec_id") =!= 0L)
      .select("vec_id", "score").as[(Long, Double)].collect()
      .sortBy { case (id, s) => (-s, id) }.take(5).toSeq
    val inline = IvfIndex.annTopK(emb, "embedding", model, lit(0L),
      "vec_id", k = 5, nProbe = 1)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    assert(fromIndex === inline)
    assert(fromIndex.forall { case (id, s) => id % 4 == 0 && s > 0.999 })
    // scan is pruned to the probed list's partition directory
    val plan = q.queryExecution.executedPlan
    assert(plan.toString.contains("PartitionFilters"), plan.toString)
    val scanned = plan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }
    assert(scanned.nonEmpty && scanned.head === 1, s"scanned=$scanned")
  }

  test("IVF index: clustered directions get separate lists; ANN finds true neighbours") {
    // two well-separated clusters of scaled directions
    val emb = (0 until 60).map { i =>
      val base = if (i % 2 == 0) Array(10.0f, 0.5f, 0.1f, 0.2f)
      else Array(-0.3f, 9.0f, -0.2f, 0.4f)
      (i.toLong, base.map(x => x * (1.0f + (i % 7) / 10.0f) +
        (i % 3) * 0.01f))
    }.toDF("vec_id", "embedding")
    val model = graft.ext.IvfIndex.fit(emb, "embedding", nLists = 2)
    assert(model.nLists === 2)

    val assigned = graft.ext.IvfIndex.assign(emb, "embedding", model)
      .select("vec_id", "ivf_list").as[(Long, Int)].collect().toMap
    // every even id shares a list; every odd id shares the other
    assert(assigned.filter(_._1 % 2 == 0).values.toSet.size === 1)
    assert(assigned.filter(_._1 % 2 == 1).values.toSet.size === 1)
    assert(assigned(0L) !== assigned(1L))

    val ann = graft.ext.IvfIndex.annTopK(emb, "embedding", model,
      lit(0L), "vec_id", k = 5, nProbe = 1)
      .select("vec_id", "score").as[(Long, Double)].collect()
    assert(ann.length === 5)
    assert(ann.forall { case (id, score) => id % 2 == 0 && score > 0.99 })

    // nProbe = nLists degrades gracefully to full coverage
    val all = graft.ext.IvfIndex.annTopK(emb, "embedding", model,
      lit(0L), "vec_id", k = 59, nProbe = 2)
    assert(all.count() === 59)
  }

  test("windowChunkDedup: global first occurrence wins, order-stable reassembly") {
    // w=2 chunks: doc 1 = [a b][c d], doc 2 = [c d][e f] (second chunk
    // of doc 2 repeats doc 1's second chunk), doc 3 duplicates doc 1
    // entirely, doc 4 repeats ITS OWN chunk (intra-doc dup) + a tail
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "c d e f"),
      (3L, "a b c d"),
      (4L, "g h g h i")).toDF("doc_id", "text")
    val out = Dedup.windowChunkDedup(docs, "doc_id", "text", windowWords = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (1L, 2L, 2L, "a b c d"),     // first occurrences of both chunks
      (2L, 2L, 1L, "e f"),         // "c d" lost to doc 1
      (3L, 2L, 0L, ""),            // fully duplicated → empty
      (4L, 3L, 2L, "g h i")))      // intra-doc dup dropped, tail kept
  }

  test("windowChunkDedup plans with NO per-chunk window (hot-key safe)") {
    // boilerplate chunks are by construction the hottest keys; the
    // first-occurrence winner must come from a partial-aggregating
    // groupBy (map-side combine collapses the hot key), never a
    // row_number window partitioned by chunk
    val docs = Seq((1L, "a b c d"), (2L, "c d e f")).toDF("doc_id", "text")
    val plan = Dedup.windowChunkDedup(docs, "doc_id", "text", windowWords = 2)
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"unexpected Window in plan: $windows")
  }

  test("labelCentroidOutliers: bottom-k per label with NO corpus-sized window") {
    // labels are few by construction, so a per-label row_number window
    // would rank the whole corpus through one reducer per label; the
    // ranking must come from the bounded partial-aggregating TopK
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.0f, 1.0f), 0), (4L, Array(0.5f, 0.5f), 1),
      (5L, Array(-1.0f, 0.2f), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroidOutliers(
      emb, "embedding", "vec_id", "label", k = 2)
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"unexpected Window in plan: $windows")
    // rank 1 = farthest from the label centroid, id-tiebroken
    val got = out.select("label", "rank", "vec_id")
      .as[(Int, Long, Long)].collect().toSet
    // label 0 centroid ≈ (1.9, 1.1): v3 ⊥-most (cos .50), then v1 (.87)
    // label 1 centroid ≈ (-0.5, 0.7): v4 (cos .16), then v5 (.73)
    assert(got === Set((0, 1L, 3L), (0, 2L, 1L), (1, 1L, 4L), (1, 2L, 5L)))
  }

  test("knnLabelBatch: per-query vote without a per-query window") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.0f, 1.0f), 1),
      (2L, Array(0.9f, 0.1f), 0), (3L, Array(0.8f, 0.2f), 0),
      (4L, Array(0.1f, 0.9f), 1), (5L, Array(0.2f, 0.8f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelBatch(
      emb, "embedding", "vec_id", "label", queryIds = Seq(0L, 1L), k = 2)
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"unexpected Window in plan: $windows")
    // q0 (points +x): neighbors v2, v3 — both label 0;
    // q1 (points +y): neighbors v4, v5 — both label 1
    val got = out.select("query_id", "label", "votes")
      .as[(Long, Int, Long)].collect().toSet
    assert(got === Set((0L, 0, 2L), (1L, 1, 2L)))
  }
}
