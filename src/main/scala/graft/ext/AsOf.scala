package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** As-of (temporal backward) join — an operator Spark lacks natively
  * (guide §custom-operator names it; preference (a): compose built-in
  * ops). For every left row, attach the latest right row with
  * `right.time <= left.time` within the same key.
  *
  * Implementation is the scalable union-carry pattern, NOT a range
  * self-join: tag both sides, union, single window per key ordered by
  * (time, tag) with `last(value, ignoreNulls)` carried forward, keep
  * left rows. One shuffle on the key, linear state — at 100 TB this
  * is the difference between a sort within partitions and an O(n·m)
  * interval join. Ties (equal times) see the right row first, giving
  * inclusive `<=` semantics — identical to SQL ASOF JOIN.
  */
object AsOf {

  /** `left` gains `asof_<c>` for every column in `valueCols` of
    * `right`. Both frames need `keyCol` and `timeCol`. The whole right
    * row is carried as ONE struct so null values inside a matched row
    * don't leak further back in time (exact ASOF semantics). */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      timeCol: String, valueCols: Seq[String],
      tieBreak: Seq[String] = Nil): DataFrame = {
    val lCols = left.columns
    val rStruct = struct(valueCols.map(col): _*)
    val rightTagged = right.select(
      (Seq(col(keyCol), col(timeCol), lit(0).as("_side"), rStruct.as("_r")) ++
        tieBreak.map(col)): _*)
    val leftTagged = left
      .withColumn("_side", lit(1))
      .withColumn("_r", lit(null).cast(rightTagged.schema("_r").dataType))

    val unioned = leftTagged.unionByName(rightTagged, allowMissingColumns = true)
    val w = Window.partitionBy(keyCol)
      .orderBy((Seq(asc(timeCol), asc("_side")) ++ tieBreak.map(asc)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned
      .withColumn("_match", last(col("_r"), ignoreNulls = true).over(w))
    carried
      .filter(col("_side") === 1)
      .select((lCols.map(col) ++
        valueCols.map(c => col("_match").getField(c).as(s"asof_$c"))): _*)
  }
}
