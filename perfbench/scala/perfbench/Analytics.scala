package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.Row

import graft.SparkEntry
import graft.queries.{ExtQueries, Graph, Relational, Relational2, Relational3,
  Relational4, Relational5, Relational6, Relational7, TextSim, TxQueries}

/** The analyst's batch path: a family-stratified sample of the query
  * catalog over seeded tables. Every query runs once before timing (the
  * check pass), then each is timed as a `noop` write, which executes
  * the whole plan and materializes every output row without a sink. */
object Analytics {
  /** The catalog's twelve families, by the object that defines them. */
  val Families: Seq[(String, Iterable[String])] = Seq(
    "relational" -> Relational.queries.keys,
    "relational2" -> Relational2.queries.keys,
    "relational3" -> Relational3.queries.keys,
    "relational4" -> Relational4.queries.keys,
    "relational5" -> Relational5.queries.keys,
    "relational6" -> Relational6.queries.keys,
    "relational7" -> Relational7.queries.keys,
    "analytics" -> graft.queries.Analytics.queries.keys,
    "textsim" -> TextSim.queries.keys,
    "ext" -> ExtQueries.queries.keys,
    "tx" -> TxQueries.queries.keys,
    "graph" -> Graph.queries.keys)
  /** Families whose queries build persisted indexes or tx tables on
    * first use; set-up pays those builds. */
  val Prebuilt: Map[String, String] = Map("ext" -> "ext.prebuild_s",
    "tx" -> "queries.tx_prebuild_s")
  val PerFamily = 1
  /** The sample is drawn once with this fixed seed, so every run times
    * the same queries and only the data varies with `--seed`. */
  val SampleSeed = 20261017L
  val SetupReps = 3

  def sample: Seq[(String, String)] = Families.flatMap { case (family, names) =>
    new scala.util.Random(SampleSeed + family.hashCode)
      .shuffle(names.toSeq.sorted).take(PerFamily).map(family -> _)
  }

  /** Set-up: a fresh `java.io.tmpdir`, then the first execution of
    * every sampled query that builds an index or a tx table there.
    * Returns seconds per building family. */
  private def prebuild(r: Run, dir: String, tmp: String,
      queries: Seq[(String, String)]): Map[String, Double] = {
    new java.io.File(tmp).mkdirs()
    System.setProperty("java.io.tmpdir", tmp)
    queries.filter(q => Prebuilt.contains(q._1)).groupBy(_._1).map { case (family, qs) =>
      val t0 = System.nanoTime()
      qs.foreach { case (_, name) =>
        r.layer("queries.prebuild")(SparkEntry.queries(name)(r.spark, dir)
          .write.format("noop").mode("overwrite").save())
      }
      Prebuilt(family) -> (System.nanoTime() - t0) / 1e9
    }
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val queries = sample
    val oracle = SparkEntry.oracleSql
    // the seeded tables perfbench/gen.py wrote before this JVM started
    val dir = s"${r.work}/data"
    val builds = (0 until SetupReps).map { i =>
      r.setup(prebuild(r, dir, s"${r.work}/tmp-$i", queries))
    }
    (0 until SetupReps - 1).foreach(i => Files.rmTree(new java.io.File(s"${r.work}/tmp-$i")))
    builds.last.foreach { case (k, v) => r.facts(k) = v }
    r.phase("setups_done")

    // check pass (untimed): results the Python side compares with the
    // DuckDB oracle, or hashes for queries the oracle cannot express.
    // Results are written as graft.Verify writes them (Spark's default
    // INT96 timestamps), the form tools/oracle_check.py compares.
    val out = s"${r.work}/results"
    val tsType = "spark.sql.parquet.outputTimestampType"
    val sessionTsType = spark.conf.get(tsType)
    spark.conf.set(tsType, "INT96")
    val hashes = queries.flatMap { case (_, name) =>
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        if (oracle.contains(name)) {
          df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
          None
        } else Some(name -> Hashes.of(df.collect()))
      } catch {
        case NonFatal(e) =>
          r.check(s"$name runs in the check pass")(false, String.valueOf(e))
          None
      }
    }.toMap
    spark.conf.set(tsType, sessionTsType)

    r.passes(queries.size) { i =>
      val (family, name) = queries(i % queries.size)
      r.op[Unit]("query", s"queries.$family.$name") {
        val df = r.layer("queries.construct")(SparkEntry.queries(name)(spark, dir))
        r.layer("queries.exec")(df.write.format("noop").mode("overwrite").save())
      }(_ => None)
    }

    hashes.foreach { case (name, h) =>
      r.check(s"$name returns the rows it returned before timing")(
        Hashes.of(SparkEntry.queries(name)(spark, dir).collect()) == h,
        "result hash changed between executions")
    }
    r.facts("sf_dir") = dir
    r.facts("results_dir") = out
    r.facts("oracle") = queries.map(_._2).filter(oracle.contains)
      .map(n => n -> oracle(n)).toMap
    r.facts("sample") = queries.map { case (f, n) => s"$f.$n" }
    // what the ext index and tx table builds leave in java.io.tmpdir
    r.facts("prebuild_tmpdir_bytes") =
      Files.sizeOf(new java.io.File(s"${r.work}/tmp-${SetupReps - 1}"))
  }
}

/** Order-sensitive hash of collected rows; doubles are rounded to nine
  * significant digits so summation order cannot flip the last bits. */
object Hashes {
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.mkString("b", ".", "")
    case other => other.toString
  }

  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((canon(r) + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}
