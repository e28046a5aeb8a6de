package graft

import org.apache.spark.sql.functions._

import graft.core.Warehouse
import graft.domain.{Seeder, Terms}

class DomainServicesSpec extends SparkSpec {
  import spark.implicits._

  private def freshWarehouse(): Warehouse = {
    val wh = new Warehouse(spark, tmpDir("dsvc"))
    wh.createAll()
    wh
  }

  test("seeder populates the 11 term families idempotently + local store") {
    val wh = freshWarehouse()
    Seeder.run(wh, t0)
    Seeder.run(wh, t0) // idempotent
    val terms = wh.domainTable("ontology_terms").read
    val expected = Terms.Families.values.map(_.size).sum
    assert(terms.count() === expected)
    val byFamily = terms.groupBy("term_type").count()
      .as[(String, Long)].collect().toMap
    assert(byFamily("jurisdiction") === 10)
    assert(byFamily("topic") === 22)
    assert(byFamily("trust_tier") === 4)
    assert(wh.domainTable("vector_stores").read
      .filter(col("provider") === "local").count() === 1)
  }

  test("quality profile: per-column nulls and distincts in one pass") {
    val df = Seq(
      (Some("a"), 1), (None, 2), (Some("a"), 3), (Some("b"), 3))
      .toDF("s", "n")
    val p = graft.ext.Quality.profile(df, exact = true).collect()(0)
    assert(p.getAs[Long]("n_rows") === 4)
    assert(p.getAs[Long]("nulls_s") === 1)
    assert(p.getAs[Long]("distinct_s") === 2)   // nulls not counted
    assert(p.getAs[Long]("nulls_n") === 0)
    assert(p.getAs[Long]("distinct_n") === 3)
  }
}
