package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.domain.{Normalizer, OntoFunctions, Schemas, Terms, Validator}

/** Property-based invariants (SURVEY §5.4): the normalizer is total
  * (any JSON → a schema-valid row, never a throw), URL canonicalization
  * is idempotent, dedup is idempotent, routing partitions the input.
  * Generators are driven by a seeded sampler (the scalatest-scalacheck
  * bridge isn't in the offline cache).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic scalacheck sampling: `trials` draws from `g`. */
  private def forAll[T](g: Gen[T], trials: Int = 12)(body: T => Unit): Unit = {
    var seed = Seed(42L)
    (0 until trials).foreach { _ =>
      g.apply(Gen.Parameters.default, seed).foreach(body)
      seed = seed.next
    }
  }

  private val jsonScalar: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(s => "\"" + s + "\""),
    Gen.choose(-1000, 1000).map(_.toString),
    Gen.choose(-5.0, 5.0).map(_.toString),
    Gen.const("null"), Gen.const("true"))

  private val dirtyPayload: Gen[String] = for {
    id <- Gen.option(Gen.identifier)
    jur <- Gen.oneOf(Terms.Jurisdictions ++ Seq("XX", "", "eu"))
    conf <- jsonScalar
    topics <- Gen.oneOf(
      "[\"GDPR\",\"JUNK\"]", "\"GDPR\"", "null", "[]", "[3]")
    extra <- Gen.alphaNumStr
  } yield {
    val idPart = id.map(i => s""""id":"$i",""").getOrElse("")
    s"""{$idPart"jurisdiction":"$jur","confidence":$conf,
       |"topics":$topics,"summary_1line":"s $extra",
       |"priority":"P9"}""".stripMargin.replace("\n", "")
  }

  test("normalizer is total: arbitrary dirty payloads yield schema-clean enums") {
    forAll(Gen.listOfN(8, dirtyPayload)) { payloads =>
      val df = spark.createDataFrame(
        java.util.Arrays.asList(payloads.zipWithIndex.map { case (p, i) =>
          Row(s"r$i", "RegulationItem", p, "reason", "pending", t0, null, null)
        }: _*), Schemas.reviewQueue)
      val out = Normalizer.normalizePayload(df, "payload", lit(t0))
        .select("item.*").collect()
      assert(out.length === payloads.length)
      out.foreach { r =>
        assert(Terms.Jurisdictions.contains(r.getAs[String]("jurisdiction")))
        assert(Terms.Priorities.contains(r.getAs[String]("priority")))
        assert(Terms.ItemStatuses.contains(r.getAs[String]("status")))
        val conf = r.getAs[Double]("confidence")
        assert(conf >= 0.0 && conf <= 1.0)
        val topics = r.getSeq[String](r.fieldIndex("topics"))
        assert(topics.forall(Terms.Topics.contains))
        assert(r.getAs[String]("summary_1line").length <= 400)
      }
    }
  }

  test("canonicalizeUrl is idempotent (non-degenerate paths)") {
    // the reference strips exactly ONE trailing slash
    // (`policy.ts:90-93` pathname.slice(0, -1)), so "/p//" legitimately
    // needs two passes — excluded here, pinned in the test below
    val urlGen: Gen[String] = for {
      host <- Gen.oneOf("a.org", "www.b.co.uk", "x-y.de")
      path <- Gen.oneOf("", "/", "/p", "/p/q/", "/p.html/")
      query <- Gen.oneOf("", "?utm_source=1", "?a=1&utm_x=2&b=3", "?utm_a=1&utm_b=2")
    } yield s"https://$host$path$query"
    forAll(Gen.listOfN(12, urlGen)) { urls =>
      val once = urls.toDF("url")
        .select(OntoFunctions.canonicalizeUrl(col("url")).as("u"))
      val twice = once.select(OntoFunctions.canonicalizeUrl(col("u")).as("u"))
      assert(once.as[String].collect().toSeq ===
        twice.as[String].collect().toSeq)
    }
  }

  test("canonicalizeUrl strips exactly one trailing slash (reference parity)") {
    val got = Seq("https://a.org/p//").toDF("url")
      .select(OntoFunctions.canonicalizeUrl(col("url")))
      .as[String].collect().head
    assert(got === "https://a.org/p/")
  }

  test("saltedAgg equals direct groupBy for random data (any bucket count)") {
    import org.apache.spark.sql.types.DoubleType
    val gen = for {
      n <- Gen.choose(1, 60)
      buckets <- Gen.choose(1, 9)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 4), Gen.choose(-100, 100)))
    } yield (buckets, rows)
    forAll(gen, trials = 8) { case (buckets, rows) =>
      val df = rows.zipWithIndex.map { case ((k, v), i) => (k, v, i) }
        .toDF("k", "v", "id")
      val salted = graft.ext.Skew.saltedAgg(
        df, col("k"), col("id"), buckets,
        Seq((count(lit(1)), (c: String) => sum(col(c)), "n"),
          (sum(col("v").cast("long")),
            (c: String) => sum(col(c)), "total")))
        .select(col("key").cast("int"), col("n"), col("total"))
        .as[(Int, Long, Long)].collect().toSet
      val direct = df.groupBy("k")
        .agg(count(lit(1)).as("n"), sum(col("v").cast("long")).as("total"))
        .as[(Int, Long, Long)].collect().toSet
      assert(salted === direct)
    }
  }

  test("TopK aggregator equals sort-take for random data") {
    val gen = Gen.listOfN(40, Gen.zip(Gen.choose(0, 2), Gen.choose(-50, 50)))
    forAll(gen, trials = 8) { rows =>
      val df = rows.zipWithIndex.map { case ((g, v), i) =>
        (g, v.toDouble, i.toLong)
      }.toDF("g", "v", "id")
      val topk = graft.ext.TopK.top_k(3)
      val got = df.groupBy("g").agg(topk(col("v"), col("id")).as("top"))
        .select(col("g"), explode(col("top.entries")).as("e"))
        .select(col("g"), col("e.value"), col("e.id"))
        .as[(Int, Double, Long)].collect().toSet
      val expected = rows.zipWithIndex
        .map { case ((g, v), i) => (g, v.toDouble, i.toLong) }
        .groupBy(_._1).flatMap { case (_, grp) =>
          grp.sortBy(t => (-t._2, t._3)).take(3)
        }.toSet
      assert(got === expected)
    }
  }

  test("validation routing is a partition: accepted + review = total") {
    val itemGen = for {
      conf <- Gen.choose(0.0, 1.0)
      tier <- Gen.oneOf(Terms.TrustTiers ++ Seq(null))
      nCit <- Gen.choose(0, 2)
    } yield (conf, tier, nCit)
    forAll(Gen.listOfN(10, itemGen)) { specs =>
      val rows = specs.zipWithIndex.map { case ((conf, tier, nCit), i) =>
        Row(s"i$i", "EU", "Org", "guidance", "t", "s",
          "https://eur-lex.europa.eu/x", null, t0, null, "unknown",
          Seq(), Seq(), Seq(),
          Row(null, null, (0 until nCit).map(c =>
            Row(s"c$c", "https://eur-lex.europa.eu/x", null))),
          conf, "", "P2", tier, null, null, null, t0)
      }
      val df = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), Schemas.regulationItems)
      val routed = Validator.routeItems(Validator.validateItems(df, 0.7))
      val byRoute = routed.groupBy("_route").count()
        .as[(String, Long)].collect().toMap
      assert(byRoute.values.sum === specs.length)
      // every review row carries a non-empty reason
      val reviewReasons = routed.filter(col("_route") === "review_queue")
        .select("_review_reason").as[String].collect()
      assert(reviewReasons.forall(r => r != null && r.nonEmpty))
    }
  }

  test("TxTable agrees with an in-memory model over random op sequences") {
    import graft.core.TxTable
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

    sealed trait Op
    case class Append(rows: Seq[(String, Int)]) extends Op
    case class Upsert(rows: Seq[(String, Int)]) extends Op
    case class InsertIfAbsent(rows: Seq[(String, Int)]) extends Op
    case class Delete(threshold: Int) extends Op
    case object Truncate extends Op

    val key: Gen[String] = Gen.choose(0, 12).map(i => s"k$i")
    val rowsGen: Gen[Seq[(String, Int)]] = for {
      n <- Gen.choose(1, 5)
      ks <- Gen.listOfN(n, key)
      vs <- Gen.listOfN(n, Gen.choose(-50, 50))
    } yield ks.zip(vs).distinctBy(_._1)
    val opGen: Gen[Op] = Gen.frequency(
      3 -> rowsGen.map(Append),
      4 -> rowsGen.map(Upsert),
      2 -> rowsGen.map(InsertIfAbsent),
      2 -> Gen.choose(-20, 20).map(Delete),
      1 -> Gen.const(Truncate))
    val seqGen: Gen[List[Op]] = Gen.choose(3, 7).flatMap(Gen.listOfN(_, opGen))

    forAll(seqGen, trials = 4) { ops =>
      val t = new TxTable(spark, tmpDir("txprop") + "/t", StructType(Seq(
        StructField("k", StringType), StructField("v", IntegerType))),
        Seq("k"), numBuckets = 3)
      // model: append keeps EVERY row (multiset); keyed ops see any
      // row per key, matching Table/TxTable's dropDuplicates contract —
      // restrict appends to fresh keys to keep the model deterministic
      var model = Map.empty[String, Int]
      ops.foreach {
        case Append(rows) =>
          val fresh = rows.filterNot { case (k, _) => model.contains(k) }
          t.append(fresh.toDF("k", "v")); model ++= fresh
        case Upsert(rows) =>
          t.upsert(rows.toDF("k", "v")); model ++= rows
        case InsertIfAbsent(rows) =>
          t.insertIfAbsent(rows.toDF("k", "v"))
          model ++= rows.filterNot { case (k, _) => model.contains(k) }
        case Delete(th) =>
          t.deleteWhere(col("v") >= th)
          model = model.filterNot { case (_, v) => v >= th }
        case Truncate =>
          t.truncate(); model = Map.empty
      }
      val got = t.read.as[(String, Int)].collect().toMap
      assert(got === model, s"ops=$ops")
      // version count == committed mutations (+ v0), each time-travelable
      assert(t.versions.nonEmpty)
      assert(t.readVersion(0).count() === 0)
    }
  }

  test("phraseSearch equals the brute sliding-window scan on random corpora") {
    import graft.ext.TextIndex
    val word: Gen[String] = Gen.oneOf("ab", "cd", "ef", "gh", "ij")
    val docGen: Gen[String] =
      Gen.choose(1, 10).flatMap(Gen.listOfN(_, word)).map(_.mkString(" "))
    val corpusGen: Gen[List[String]] =
      Gen.choose(4, 10).flatMap(Gen.listOfN(_, docGen))
    val phraseGen: Gen[String] =
      Gen.choose(1, 3).flatMap(Gen.listOfN(_, word)).map(_.mkString(" "))
    forAll(Gen.zip(corpusGen, phraseGen), trials = 4) { case (texts, phrase) =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val idxDir = tmpDir("pprop")
      TextIndex.buildPositional(docs, "doc_id", "text", idxDir, nBuckets = 4)
      val got = TextIndex.phraseSearch(spark, idxDir, "doc_id", phrase)
        .as[Long].collect().toSet
      val n = phrase.split(" ").length
      val brute = texts.zipWithIndex.collect {
        case (t, i) if t.split(" ").sliding(n).exists(_.mkString(" ") == phrase) =>
          i.toLong
      }.toSet
      assert(got === brute, s"phrase='$phrase' corpus=$texts")
    }
  }

  test("mixture sampling is monotone in the budget (a kept doc stays kept)") {
    // the docstring claims budget growth only ADDS documents — that is
    // exactly `u < rate·65536` with rate monotone in budget; pin it on
    // the real corpus by running the same rate computation at two
    // budgets
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "text")
    def keptAt(budget: Long): Set[Long] = {
      val toks = size(split(col("text"), " ")).cast("long")
      val d = docs.withColumn("_tok", toks)
      val avail = d.groupBy("lang").agg(sum("_tok").as("_avail"))
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
      d.join(broadcast(avail), Seq("lang"))
        .withColumn("_rate", least(lit(1.0),
          lit(budget.toDouble) * lit(0.2) / col("_avail").cast("double")))
        .filter(u.cast("double") < col("_rate") * lit(65536.0))
        .select("doc_id").as[Long].collect().toSet
    }
    val small = keptAt(2000L)
    val big = keptAt(6000L)
    assert(small.subsetOf(big),
      s"budget growth dropped docs: ${small -- big}")
    assert(big.size > small.size, "bigger budget should add documents")
  }
}
