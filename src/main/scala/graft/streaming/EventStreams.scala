package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Structured-Streaming surface (SURVEY §2.12 north-star extension)
  * over the `events` shape: its schema (what a file-based streaming
  * source over an events directory declares) and a watermarked
  * stream-stream interval join.
  *
  * Every transform is defined on a plain DataFrame so it runs
  * identically in batch (oracle-checkable) and streaming modes —
  * the Spark unified-engine idiom.
  */
object EventStreams {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Stream-stream interval join: purchases matched to the same user's
    * clicks from the preceding `window`. Watermarks on BOTH sides plus
    * the time-range predicate bound the join state — without them a
    * stream-stream join buffers forever. */
  def purchasesWithRecentClicks(events: DataFrame, window: String = "10 minutes",
      lateness: String = "1 hour"): DataFrame = {
    val purchases = events.filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .select(org.apache.spark.sql.functions.col("event_id").as("p_id"),
        org.apache.spark.sql.functions.col("user_id").as("p_user"),
        org.apache.spark.sql.functions.col("ts").as("p_ts"))
      .withWatermark("p_ts", lateness)
    val clicks = events.filter(org.apache.spark.sql.functions.col("event_type") === "click")
      .select(org.apache.spark.sql.functions.col("event_id").as("c_id"),
        org.apache.spark.sql.functions.col("user_id").as("c_user"),
        org.apache.spark.sql.functions.col("ts").as("c_ts"),
        org.apache.spark.sql.functions.col("value").as("c_value"))
      .withWatermark("c_ts", lateness)
    purchases.join(clicks,
      org.apache.spark.sql.functions.expr(
        s"p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL $window AND p_ts"))
  }
}
