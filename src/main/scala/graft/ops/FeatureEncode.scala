package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.roundPinned

/** Feature-encoding audits for classifier training data — the two
  * classic supervised encodings a quality-filter pipeline fits before
  * training (and the audit a data release ships alongside a labeled
  * set):
  *
  *  - [[woeIv]]: Weight-of-Evidence / Information-Value over
  *    equi-depth buckets of a numeric feature vs a binary label —
  *    the standard scorecard measure of how much signal a feature
  *    carries (IV < 0.02 useless, > 0.5 suspicious).
  *  - [[targetEncode]]: smoothed target-mean encoding per category
  *    (the m-estimate: `(Σy + m·ȳ)/(n + m)`), the leakage-aware way
  *    to feed a high-cardinality categorical to a model.
  *
  * Exactness: counts are integers; WOE's smoothed shares are one
  * double division each with the smoothing constants embedded as the
  * same literals in both engines; ln replays (repo precedent); the IV
  * sum quantizes each term to integer 1e-9 units (order-free); target
  * sums quantize to 1e-6 units. Every rounded output carries the
  * `+ 0.0` sign fold.
  *
  * Scale shape: one pass for cutpoints/aggregates, tiny broadcast
  * frames back — the data streams once per encoding, no row-level
  * window anywhere.
  */
object FeatureEncode {

  /** Per-bucket WOE and IV of `feature` against boolean `label`.
    * NULL/NaN features and NULL labels are excluded (no defined
    * bucket or class).
    *
    * @return one row per equi-depth bucket:
    *         (segment, n, n_pos, n_neg, woe_r, iv_term_r, iv_r) —
    *         iv_r is the feature-level total, repeated per row
    */
  def woeIv(
      df: DataFrame,
      feature: Column,
      label: Column,
      nBuckets: Int = 5,
      smoothing: Double = 0.5): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 100,
      s"nBuckets must be in [2, 100]: $nBuckets")
    require(smoothing > 0, s"smoothing must be positive: $smoothing")
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val labels = (1 to nBuckets).map(i => f"b$i%02d")
    val base = df.select(feature.cast("double").as("__f"),
        label.cast("boolean").as("__y"))
      .filter(col("__f").isNotNull && !isnan(col("__f")) && col("__y").isNotNull)
    val seg = Sketches.segmentByQuantiles(base, col("__f"), probs, labels)
    val agg = seg.groupBy(col("segment")).agg(
        count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"))
      .withColumn("n_neg", col("n") - col("n_pos"))
    // Bounded frames use a one-task window: the ≤nBuckets-row bucket
    // frame takes its class totals and the quantized-integer IV sum
    // (order-free) as windows over the whole frame.
    val all = Window.partitionBy()
    val sB = smoothing * nBuckets
    val num = (col("n_pos") + lit(smoothing)) / (col("__tp") + lit(sB))
    val den = (col("n_neg") + lit(smoothing)) / (col("__tn") + lit(sB))
    agg
      .withColumn("__tp", sum(col("n_pos")).over(all))
      .withColumn("__tn", sum(col("n_neg")).over(all))
      .withColumn("__woe", log(num / den))
      .withColumn("__ivt", (num - den) * col("__woe"))
      .withColumn("__ivq",
        sum(roundPinned(col("__ivt") * lit(1e9)).cast("long")).over(all))
      .select(col("segment"), col("n"), col("n_pos"), col("n_neg"),
        (roundPinned(col("__woe"), 4)).as("woe_r"),
        (roundPinned(col("__ivt"), 4)).as("iv_term_r"),
        (roundPinned(col("__ivq").cast("double") / lit(1e9), 4)).as("iv_r"))
  }

  /** Smoothed target-mean encoding (m-estimate) per category:
    * `te = (Σ_cat y + m · ȳ_global) / (n_cat + m)` — pulls rare
    * categories toward the global mean so they can't memorize noise.
    * Sums quantize to integer 1e-6 units (order-free, replayable);
    * NULL categories/targets are excluded.
    *
    * @return (category, n, mean_r, te_r) — the encoding table; join
    *         it back on the category to materialize the feature
    */
  def targetEncode(
      df: DataFrame,
      category: Column,
      target: Column,
      m: Double = 20.0): DataFrame = {
    require(m >= 0, s"m must be non-negative: $m")
    val base = df.select(category.as("__c"), target.cast("double").as("__t"))
      .filter(col("__c").isNotNull && col("__t").isNotNull && !isnan(col("__t")))
    val agg = base.groupBy(col("__c")).agg(
      count(lit(1)).as("n"),
      sum(roundPinned(col("__t") * lit(1e6)).cast("long")).as("__sq"))
    val g = agg.agg(sum(col("__sq")).as("__gq"), sum(col("n")).as("__gn"))
    val gmean = col("__gq").cast("double") / lit(1e6) / col("__gn").cast("double")
    val catSum = col("__sq").cast("double") / lit(1e6)
    agg.crossJoin(broadcast(g))
      .select(col("__c").as("category"), col("n"),
        (roundPinned(catSum / col("n").cast("double"), 4)).as("mean_r"),
        (roundPinned((catSum + lit(m) * gmean) / (col("n").cast("double") + lit(m)), 4)).as("te_r"))
  }
}
