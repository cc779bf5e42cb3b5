package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.RunningTotals

/** Surrogate-key generation (F4).
  *
  * The reference assigns `checkin_id` with
  * `monotonically_increasing_id()` after the explode
  * (`/root/reference/yelp_etl/pipeline/clean.py:57`). That id is
  * partition-layout-dependent — re-running with a different number of
  * input splits yields different ids — so it cannot hash-match a
  * DuckDB oracle. We expose both:
  *
  *   - [[withUniqueId]] — the faithful, scale-free variant: per-partition
  *     counter embedded in the upper bits, zero shuffle, ids unique
  *     but not dense and not reproducible across layouts.
  *   - [[withSequentialId]] — deterministic dense 0-based id by key
  *     order: an exclusive running count on [[RunningTotals]].
  */
object Surrogate {

  /** Faithful `monotonically_increasing_id` (nondeterministic across
    * partitionings; unique within a job). */
  def uniqueId: Column = monotonically_increasing_id()

  def withUniqueId(df: DataFrame, name: String): DataFrame =
    df.withColumn(name, uniqueId)

  /** Dense 0-based id ordered by `keys`: the exclusive running count of
    * rows (`includeCurrent = false`, ROWS .. 1 PRECEDING), so every row
    * gets a distinct id in 0..n-1 even when keys tie. Which tied row
    * takes which id is arbitrary, so `keys` must be unique per row for
    * the ids to be deterministic.
    *
    * Cost: one range shuffle by `keys`, read twice by the exec (a
    * per-partition count job, then the output pass); no persist and no
    * single-task global window.
    */
  def withSequentialId(df: DataFrame, name: String, keys: Column*): DataFrame =
    RunningTotals.withRunningTotals(df, keys, Seq(name -> lit(1L)), includeCurrent = false)
}
