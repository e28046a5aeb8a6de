package graft.domain

import java.sql.Timestamp

import graft.core.Warehouse

/** Ontology seeding (ref `src/scripts/seed.ts:38-51`): the 11 term
  * families into `ontology_terms` (insert-if-absent on value) plus the
  * local vector store row.
  */
object Seeder {
  def run(wh: Warehouse, now: Timestamp): Unit = {
    import wh.spark.implicits._
    val rows = Terms.Families.toSeq.sortBy(_._1).flatMap {
      case (family, values) => values.map(v => (family, v))
    }.zipWithIndex.map { case ((family, v), i) =>
      (i + 1, family, v, v)
    }.toDF("id", "term_type", "value", "label")
    wh.domainTable("ontology_terms").insertIfAbsent(rows)
    graft.jobs.ScanJob.ensureLocalStore(wh, now)
  }
}
