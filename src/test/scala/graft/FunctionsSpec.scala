package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("native dot_product matches the SQL aggregate/zip_with fold bit-for-bit") {
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.1, -0.2), Array(0.3, 0.7)),
      (Array.empty[Double], Array.empty[Double])).toDF("a", "b")
    val got = df.select(
      VectorFunctions.dot_product(col("a"), col("b")).as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (s, v) -> s + v)")
        .as("hof"))
      .as[(Double, Double)].collect()
    got.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) ===
        java.lang.Double.doubleToLongBits(h))
    }
    assert(got(0)._1 === 32.0)
  }

  test("dot_product null propagation and codegen path") {
    val df = Seq(
      (Some(Array(1.0, 2.0)), Some(Array(3.0, 4.0))),
      (None, Some(Array(1.0)))).toDF("a", "b")
    val got = df.select(VectorFunctions.dot_product(col("a"), col("b")))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq === Seq(Some(11.0), None))
  }

  test("dot_product matches the HOF fold on ragged and null-element inputs") {
    // zip_with null-pads unequal lengths and a null element poisons the
    // fold → NULL; the native expression must agree or the optimizer
    // rewrite would change user results
    val df = Seq(
      (Some(Seq(Some(1.0), Some(2.0), Some(3.0))), Some(Seq(Some(4.0), Some(5.0)))), // ragged
      (Some(Seq(Some(1.0), None)), Some(Seq(Some(3.0), Some(4.0)))),                 // null elem
      (Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(3.0), Some(4.0)))),            // clean
      (None, Some(Seq(Some(1.0)))))                                                  // null array
      .toDF("a", "b")
    val got = df.select(
      VectorFunctions.dot_product(col("a"), col("b")).as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (s, v) -> s + v)")
        .as("hof"))
      .collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getDouble(0)),
        if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    got.foreach { case (n, h) => assert(n === h) }
    assert(got.map(_._1).toSeq === Seq(None, None, Some(11.0), None))
  }

  test("dot_product is callable from SQL via the function registry") {
    // same builder GraftExtensions injects; registered directly here
    // because the shared test session is already built (extensions
    // apply only at session construction)
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product",
      exprs => graft.functions.DotProduct(exprs(0), exprs(1)),
      "built-in")
    val r = spark.sql(
      "SELECT dot_product(array(1D, 2D), array(3D, 4D)) AS d")
      .collect()(0).getDouble(0)
    assert(r === 11.0)
  }

  test("hyperplane_signature matches the HOF fold formulation bit-for-bit") {
    import graft.ext.Similarity
    val nBits = 8; val dim = 16
    val emb = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(6)(d => math.sin(i * 7 + d) * (d + 1)))
    }.toDF("id", "e")
    // the declarative formulation the native expression replaced
    val hofBits = (0 until nBits).map { j =>
      val hp = array((0 until dim).map(i => lit(Similarity.hyperplane(j, i))): _*)
      when(aggregate(
        zip_with(col("e"), slice(hp, lit(1), size(col("e"))), (x, h) => x * h),
        lit(0.0), (s, v) => s + v) > 0.0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    val got = emb.select(
      Similarity.hyperplaneSignature("e", nBits, dim).as("native"),
      hofBits.as("hof")).as[(Long, Long)].collect()
    got.foreach { case (n, h) => assert(n === h) }
    assert(got.map(_._1).distinct.length > 1) // non-degenerate fixture
    // HOF edge parity: a null element poisons every plane → 0L
    val withNull = Seq(Seq[Option[Double]](Some(1.0), None)).toDF("e")
      .select(col("e").cast(ArrayType(DoubleType)).as("e"))
    assert(withNull.select(Similarity.hyperplaneSignature("e", nBits, dim))
      .as[Long].head() === 0L)
  }

  test("min_salted_md5 equals the declarative array_min(transform(md5)) form") {
    val df = Seq(
      (Seq("alpha", "beta", "gamma"), "0"),
      (Seq("single"), "3"),
      (Seq.empty[String], "1")).toDF("ws", "salt")
    val got = df.select(
      graft.functions.MinHashFunctions.min_salted_md5(col("ws"), col("salt"))
        .as("native"),
      expr("array_min(transform(ws, w -> md5(concat(salt, ':', w))))")
        .as("hof"))
      .collect()
    got.foreach { r =>
      assert(Option(r.getString(0)) === Option(r.getString(1)))
    }
    assert(got(0).getString(0) != null)
    assert(got(2).isNullAt(0))
  }

  test("DotProductRewrite replaces the HOF fold with the native expression") {
    val df = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .select(expr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        .as("d"))
    val before = df.queryExecution.analyzed
    val after = graft.functions.DotProductRewrite(before)
    assert(before.toString.contains("aggregate("))
    assert(after.toString.toLowerCase.contains("dotproduct"))
    // rewritten plan evaluates to the same value
    val rewritten = org.apache.spark.sql.GraftSqlBridge.ofRows(spark, after)
    assert(rewritten.as[Double].collect().head === 11.0)
  }

  test("DotProductRewrite leaves non-matching folds alone") {
    val df = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .select(expr(
        "aggregate(zip_with(a, b, (x, y) -> x + y), 0D, (acc, v) -> acc + v)")
        .as("d"))
    val after = graft.functions.DotProductRewrite(df.queryExecution.analyzed)
    assert(!after.toString.toLowerCase.contains("dotproduct"))
  }

  test("bucketed tables join without any Exchange (co-located join)") {
    import graft.ext.Bucketing
    val facts = (0L until 2000L).map(i => (i % 97, i, i * 1.5))
      .toDF("key", "id", "value")
    val dims = (0L until 97L).map(i => (i, s"dim-$i")).toDF("key", "name")
    Bucketing.writeBucketed(facts, "b_facts", "key", 8, Some("key"))
    Bucketing.writeBucketed(dims, "b_dims", "key", 8, Some("key"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // force a non-broadcast join so bucketing is what saves the shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = Bucketing.read(spark, "b_facts")
        .join(Bucketing.read(spark, "b_dims"), "key")
        .groupBy("key").count()
      assert(joined.count() === 97)
      assert(Bucketing.isExchangeFree(joined),
        joined.queryExecution.executedPlan.toString.take(2000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS b_facts")
      spark.sql("DROP TABLE IF EXISTS b_dims")
    }
  }
}
