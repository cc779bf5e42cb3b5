package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.roundPinned

/** Multi-class classification report — per-class precision/recall/F1
  * plus overall accuracy and Cohen's κ (agreement beyond chance) for
  * any predicted-vs-gold label pair: grading a heuristic classifier
  * (language ID, quality gate) against gold labels, or two annotation
  * runs against each other (κ IS the inter-annotator-agreement
  * statistic labeling pipelines report).
  *
  * Scale shape: each (pred, gold) row contributes two tiny rows —
  * (gold class: +1 gold, +1 tp if agreed) and (pred class: +1 pred) —
  * and ONE map-side-combined groupBy folds them into the per-class
  * frame (≤ classes rows). Bounded frames use a one-task window;
  * the corpus-level totals (N, agreements, chance agreement) are
  * windows over that per-class frame. `RunningTotals` is for
  * unbounded global orderings, which this is not.
  *
  * Exactness: all counts integer; ratios are single divisions of
  * integers; κ's chance-agreement term Σ (n_gold/N)·(n_pred/N)
  * quantizes each product to integer 1e-12 units so the sum is
  * order-free; κ (which sits near 0 for uninformative classifiers)
  * carries the ± 0 fold.
  *
  * @return one row per class seen in either column:
  *         (class, n_gold, n_pred, tp, precision_r, recall_r, f1_r,
  *          accuracy_r, kappa_r) — accuracy/κ are corpus-level,
  *         repeated per row (the iv_r convention)
  */
object ClassifierEval {

  def classificationReport(
      df: DataFrame,
      pred: Column,
      gold: Column): DataFrame = {
    val base = df.select(pred.cast("string").as("__p"), gold.cast("string").as("__g"))
      .filter(col("__p").isNotNull && col("__g").isNotNull)
    val agreed = when(col("__p") === col("__g"), 1L).otherwise(0L)
    val contributions = explode(array(
      struct(col("__g").as("class"), lit(1L).as("g"), lit(0L).as("p"), agreed.as("t")),
      struct(col("__p").as("class"), lit(0L).as("g"), lit(1L).as("p"), lit(0L).as("t"))))
    val cls = base.select(contributions.as("__c"))
      .groupBy(col("__c.class").as("class"))
      .agg(
        sum(col("__c.g")).as("n_gold"),
        sum(col("__c.p")).as("n_pred"),
        sum(col("__c.t")).as("tp"))
    val all = Window.partitionBy()
    val nn = col("__nn").cast("double")
    val term = roundPinned((col("n_gold").cast("double") / nn) *
      (col("n_pred").cast("double") / nn) * lit(1e12)).cast("long")
    val po = sum(col("tp")).over(all).cast("double") / nn
    cls
      .withColumn("__nn", sum(col("n_gold")).over(all))
      .withColumn("__pe", sum(term).over(all).cast("double") / lit(1e12))
      .withColumn("__po", po)
      .select(
        col("class"), col("n_gold"), col("n_pred"), col("tp"),
        roundPinned(try_divide(col("tp").cast("double"), col("n_pred").cast("double")), 4)
          .as("precision_r"),
        roundPinned(try_divide(col("tp").cast("double"), col("n_gold").cast("double")), 4)
          .as("recall_r"),
        roundPinned(try_divide(lit(2.0) * col("tp").cast("double"),
          (col("n_pred") + col("n_gold")).cast("double")), 4).as("f1_r"),
        roundPinned(col("__po"), 4).as("accuracy_r"),
        (roundPinned(try_divide(col("__po") - col("__pe"), lit(1.0) - col("__pe")), 4))
          .as("kappa_r"))
  }
}
