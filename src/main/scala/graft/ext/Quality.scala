package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality expectation checks for pipeline tables (training-data
  * hygiene at scale): a declarative expectation list turns into one
  * pass of predicate violation counts, a violations report.
  * The soft-fail philosophy matches the reference's review-queue
  * routing: report and route, never silently drop.
  */
object Quality {

  case class Expectation(name: String, predicate: Column)

  /** Expectation violations: one conditional aggregate per rule, one
    * scan total. */
  def check(df: DataFrame, expectations: Seq[Expectation]): DataFrame = {
    val aggs = expectations.map(e =>
      count(when(!coalesce(e.predicate, lit(false)), 1)).as(e.name))
    df.agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** Bigram language-model fluency score — the KenLM-style perplexity
    * filter of training-data pipelines (low average log-probability
    * under a reference corpus ⇒ boilerplate, gibberish, or
    * out-of-domain text), in pure relational form:
    * train = bigram + unigram count tables from `lmCorpus` (two
    * grouped aggregates, one shuffle each); score = per document the
    * MEAN over its bigrams of
    * `ln((C(prev,cur) + k) / (C(prev) + k·V))` (add-k smoothing, V =
    * reference vocabulary), via two hash joins on the bigram/unigram
    * keys. No model object, no UDF: counts ARE the model, and at
    * 100 TB they are a table you persist and broadcast-or-shuffle
    * like any dimension.
    *
    * Output: (idCol, n_bigrams, lm_score); docs with < 2 tokens have
    * no bigrams and are ABSENT from the output (the caller's gate
    * left-joins and decides, per the NaN discipline). Deterministic up
    * to float summation order of the per-doc mean (~1 ulp); callers
    * compare/round at ≤ 6 dp. */
  def bigramLogScore(docs: DataFrame, lmCorpus: DataFrame, idCol: String,
      textCol: String, k: Double = 0.5): DataFrame = {
    require(k > 0, "add-k smoothing requires k > 0")
    def bigrams(df: DataFrame, id: Column): DataFrame = {
      val ws = Dedup.words(col(textCol))
      df.select(id.as("_bid"), explode(when(size(ws) >= 2,
          transform(sequence(lit(2), size(ws)),
            i => struct(element_at(ws, i - 1).as("prev"),
              element_at(ws, i).as("cur"))))
          .otherwise(array())).as("_bg"))
        .select(col("_bid"), col("_bg.prev").as("prev"),
          col("_bg.cur").as("cur"))
    }
    val corpusBg = bigrams(lmCorpus, lit(0L))
    val big = corpusBg.groupBy("prev", "cur").agg(count(lit(1)).as("c2"))
    val uni = corpusBg.groupBy("prev").agg(count(lit(1)).as("c1"))
    val vocab = lmCorpus
      .select(explode(Dedup.words(col(textCol))).as("w"))
      .agg(countDistinct("w")).head.getLong(0)
    bigrams(docs.select(col(idCol), col(textCol)), col(idCol))
      .join(big, Seq("prev", "cur"), "left_outer")
      .join(uni, Seq("prev"), "left_outer")
      .withColumn("_lp",
        log((coalesce(col("c2"), lit(0L)) + lit(k)) /
          (coalesce(col("c1"), lit(0L)) + lit(k) * vocab)))
      .groupBy(col("_bid").as(idCol))
      .agg(count(lit(1)).as("n_bigrams"), avg("_lp").as("lm_score"))
  }
}
