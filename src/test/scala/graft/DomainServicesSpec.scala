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
}
