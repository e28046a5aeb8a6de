package graft

import org.apache.spark.sql.functions._

import graft.core.TxTable

/** Row-level SQL DML through the DSv2 provider: UPDATE, MERGE INTO,
  * and subquery DELETE must run as pure SQL text against catalog
  * identifiers, land as ONE guarded commit (deletion-vector
  * tombstones + staged inserts), and leave the table readable by both
  * SQL and the Scala API with identical results. */
class GraftRowLevelSpec extends SparkSpec {
  import spark.implicits._

  private def catalog(root: String, name: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
  }

  test("UPDATE: point update lands as DV tombstone + insert, one commit") {
    val root = tmpDir("graft-rl-upd")
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val tx = new TxTable(spark, s"$root/t", df.schema, Seq("k"), numBuckets = 2)
    tx.append(df) // v1
    catalog(root, "rlu")

    spark.sql("UPDATE rlu.t SET bal = bal + 5.0 WHERE k = 2") // v2

    val after = spark.sql("SELECT k, name, bal FROM rlu.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(after.toSeq === Seq((1L, "a", 10.0), (2L, "b", 25.0), (3L, "c", 30.0)))
    // exactly ONE commit for the whole statement, and no data-file
    // rewrite: original files survive, the update rode a sidecar
    assert(tx.currentVersion === 2L)
    val scalaSide = tx.read.orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(scalaSide.toSeq === Seq((1L, 10.0), (2L, 25.0), (3L, 30.0)))
    // row count stays metadata-exact through the DV bookkeeping
    assert(tx.count() === 3L)
  }

  test("UPDATE on a key column moves the row to its new bucket") {
    val root = tmpDir("graft-rl-updkey")
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val tx = new TxTable(spark, s"$root/t", df.schema, Seq("k"), numBuckets = 4)
    tx.append(df)
    catalog(root, "rlk")

    spark.sql("UPDATE rlk.t SET k = 42 WHERE k = 2")

    assert(spark.sql("SELECT k FROM rlk.t ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 42L))
    // the moved row is found by bucket-pruned point lookup under its
    // NEW key — i.e. it was re-bucketed, not left in place
    assert(tx.lookup(Seq(42L)).collect().map(_.getDouble(1)).toSeq ===
      Seq(20.0))
  }

  test("MERGE INTO: the reference's ON-CONFLICT upsert as pure SQL") {
    val root = tmpDir("graft-rl-merge")
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val tx = new TxTable(spark, s"$root/t", base.schema, Seq("k"),
      numBuckets = 2)
    tx.append(base) // v1
    catalog(root, "rlm")
    Seq((2L, "B2", 99.0), (4L, "d", 40.0)).toDF("k", "name", "bal")
      .createOrReplaceTempView("rl_merge_src")

    spark.sql(
      """MERGE INTO rlm.t AS t USING rl_merge_src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET name = s.name, bal = s.bal
        |WHEN NOT MATCHED THEN INSERT (k, name, bal) VALUES (s.k, s.name, s.bal)
        |""".stripMargin) // v2

    val got = spark.sql("SELECT k, name, bal FROM rlm.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq === Seq(
      (1L, "a", 10.0), (2L, "B2", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
    assert(tx.currentVersion === 2L)
    assert(tx.count() === 4L)
  }

  test("MERGE WHEN MATCHED THEN DELETE + subquery DELETE") {
    val root = tmpDir("graft-rl-del")
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      .toDF("k", "v")
    val tx = new TxTable(spark, s"$root/t", base.schema, Seq("k"),
      numBuckets = 2)
    tx.append(base)
    catalog(root, "rld")
    Seq(Tuple1(2L)).toDF("k").createOrReplaceTempView("rl_del_src")

    spark.sql(
      """MERGE INTO rld.t AS t USING rl_del_src AS s ON t.k = s.k
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT k FROM rld.t ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 3L, 4L))

    // subquery DELETE can't be a metadata delete — must take the
    // row-level path and still be exact
    spark.sql(
      "DELETE FROM rld.t WHERE k IN (SELECT k + 1 FROM rl_del_src)")
    assert(spark.sql("SELECT k FROM rld.t ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 4L))
    assert(tx.count() === 2L)
  }

  test("metadata columns readable; CHECK constraints gate updated rows") {
    val root = tmpDir("graft-rl-meta")
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val tx = new TxTable(spark, s"$root/t", df.schema, Seq("k"), numBuckets = 2)
    tx.append(df)
    tx.addCheckConstraint("v_pos", "v >= 0")
    catalog(root, "rlc")

    // the row identity the operations key on is SELECTable
    val meta = spark.sql(
      "SELECT k, _graft_file, _graft_pos FROM rlc.t ORDER BY k").collect()
    assert(meta.length === 2)
    assert(meta.forall(_.getString(1).endsWith(".parquet")))
    assert(meta.forall(_.getLong(2) >= 0L))

    // an UPDATE whose new rows violate a CHECK must abort whole
    val e = intercept[Exception] {
      spark.sql("UPDATE rlc.t SET v = -1 WHERE k = 1")
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.toLowerCase.contains("check"))
    // table untouched: still both original rows, one commit only
    assert(spark.sql("SELECT v FROM rlc.t ORDER BY k")
      .collect().map(_.getDouble(0)).toSeq === Seq(10.0, 20.0))
  }

  test("UPDATE is exact under duplicate keys (position-based identity)") {
    val root = tmpDir("graft-rl-dup")
    val df = Seq((1L, "x", 1.0), (1L, "y", 2.0), (2L, "z", 3.0))
      .toDF("k", "tag", "v")
    val tx = new TxTable(spark, s"$root/t", df.schema, Seq("k"), numBuckets = 2)
    tx.append(df) // append path: duplicate keys are legal
    catalog(root, "rldup")

    spark.sql("UPDATE rldup.t SET v = v * 10 WHERE tag = 'y'")

    val got = spark.sql("SELECT tag, v FROM rldup.t ORDER BY tag")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    // only the 'y' row changed; its duplicate-key sibling 'x' intact
    assert(got.toSeq === Seq(("x", 1.0), ("y", 20.0), ("z", 3.0)))
  }

  test("stale row delta aborts with an honest serializability error") {
    val root = tmpDir("graft-rl-stale")
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val tx = new TxTable(spark, s"$root/t", df.schema, Seq("k"), numBuckets = 2)
    tx.append(df) // v1
    val scanned = tx.currentVersion
    tx.append(Seq((3L, 30.0)).toDF("k", "v")) // v2 — a concurrent commit
    val dv = Seq(("whatever.parquet", 0L)).toDF("_dv_file", "_dv_pos")
    val e = intercept[java.util.ConcurrentModificationException] {
      tx.applyRowDelta(Some(dv), None, scanned)
    }
    assert(e.getMessage.contains(s"v$scanned"))
    assert(tx.count() === 3L) // untouched
  }

  test("row delta tombstoning a file not live at the scanned version is refused") {
    val root = tmpDir("graft-rl-unknown")
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val tx = new TxTable(spark, s"$root/t", df.schema, Seq("k"), numBuckets = 2)
    tx.append(df) // v1
    val scanned = tx.currentVersion
    val dv = Seq(("not-a-live-file.parquet", 0L)).toDF("_dv_file", "_dv_pos")
    val e = intercept[IllegalArgumentException] {
      tx.applyRowDelta(Some(dv), Some(Seq((3L, 30.0)).toDF("k", "v")), scanned)
    }
    assert(e.getMessage.contains(s"not live at v$scanned"))
    assert(tx.currentVersion === scanned)
    assert(tx.read.orderBy("k").as[(Long, Double)].collect().toSeq ===
      Seq((1L, 10.0), (2L, 20.0)))
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: full sync semantics") {
    val root = tmpDir("graft-rl-nmbs")
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    val tx = new TxTable(spark, s"$root/t", base.schema, Seq("k"),
      numBuckets = 2)
    tx.append(base)
    catalog(root, "rlsync")
    // source = the desired end state: 2 updated, 4 new, 1/3 absent
    Seq((2L, "B"), (4L, "d")).toDF("k", "s")
      .createOrReplaceTempView("rl_sync_src")

    spark.sql(
      """MERGE INTO rlsync.t AS t USING rl_sync_src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET s = s.s
        |WHEN NOT MATCHED THEN INSERT (k, s) VALUES (s.k, s.s)
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)

    val got = spark.sql("SELECT k, s FROM rlsync.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((2L, "B"), (4L, "d")))
    assert(tx.count() === 2L)
  }

  test("variant tables take row-level SQL DML (update/delete over DVs)") {
    val root = tmpDir("graft-rl-var")
    val df = Seq((1L, """{"a": 5}"""), (2L, """{"a": 7}"""),
      (3L, """{"a": 9}"""))
      .toDF("k", "j").withColumn("v", parse_json(col("j"))).drop("j")
    val tx = new TxTable(spark, s"$root/t", df.schema, Seq("k"),
      numBuckets = 1)
    tx.append(df) // v1
    catalog(root, "rlv")
    // the row-level scan decodes the variant group; the rewrite
    // stages it back unshredded
    spark.sql("DELETE FROM rlv.t WHERE k = 2") // v2
    spark.sql(
      "UPDATE rlv.t SET v = parse_json('{\"a\": 50}') WHERE k = 1") // v3
    val after = spark.sql(
      "SELECT k, try_variant_get(v, '$.a', 'int') AS a " +
        "FROM rlv.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(after.toSeq === Seq((1L, 50), (3L, 9)))
    assert(tx.currentVersion === 3L)
    // Spark's OWN parquet reader must also accept the RowParquet-
    // staged variant group (TxTable.read = the DataFrame path)
    val viaSparkRead = tx.read
      .select(col("k"), try_variant_get(col("v"), "$.a", "int").as("a"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(viaSparkRead.toSeq === Seq((1L, 50), (3L, 9)))
  }
}
