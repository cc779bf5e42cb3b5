package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.roundPinned

/** Competence-based curriculum assignment (Platanios et al. 2019):
  * order training examples easy→hard by a difficulty score and gate
  * them into phases — phase p of P admits the easiest `pace(p/P)`
  * fraction of the corpus (root pacing `sqrt(p/P)` front-loads easy
  * data; linear pacing admits evenly).
  *
  * The 100 TB shape is the point: the textbook implementation is a
  * GLOBAL `percent_rank()` — one total sort of the corpus per build.
  * Here the percentile is read from the [[Sketches.logHistogram]]
  * sketch instead: one grouped aggregation to ≤ bucket-count rows,
  * then every row joins its bucket's cumulative share back via a
  * BROADCAST hash join — no range exchange, no corpus sort, identical
  * answer up to bucket granularity (≤ 2^(−subBits) relative error on
  * the difficulty axis, which phase boundaries inherit; phases are
  * coarse by definition, so bucket-edge granularity is the right
  * trade).
  *
  * Deterministic and engine-replayable: integer bucket cumulatives,
  * one double division per row, `sqrt` thresholds (IEEE
  * correctly-rounded in both engines — the repo's pow-free
  * convention).
  *
  * Cost contract: pass a CHEAP or pre-materialized difficulty column.
  * The bucket join keys derive from the difficulty expression, and
  * Catalyst's projection collapse + join-key null pushdown inline
  * that expression into several evaluation sites — measured 3.4×
  * wall on a tokenize-based difficulty vs a plain column (probe
  * table in PLANS). A stored column (length, precomputed score)
  * evaluates once and the op runs at scan speed.
  *
  * @return input rows (minus NULL/negative difficulties, which have
  *         no defined place in the ordering) + `pctl_r` (the bucket's
  *         cumulative share, rounded to 6) + `phase` (1..phases)
  */
object Curriculum {

  def phaseAssign(
      df: DataFrame,
      difficulty: Column,
      phases: Int = 4,
      rootPacing: Boolean = true,
      subBits: Int = 3,
      scale: Double = 1e6): DataFrame = {
    require(phases >= 1 && phases <= 64, s"phases must be in [1, 64]: $phases")
    // m/sub/__q are logBucketed's working columns: withColumn would
    // silently OVERWRITE same-named inputs and the drop below would then
    // delete them from the output (ADVICE r17) — reject them up front,
    // matching logHistogram's reserved-column guard.
    // __pctl is cdf-side: an input column of that name would survive the
    // rows.join(cdf) as a duplicate and make col("__pctl") ambiguous
    // (opaque AnalysisException instead of this message — ADVICE r18).
    val reserved = Set("pctl_r", "phase", "m", "sub", "__q", "__pctl")
    val shadowing = df.columns.filter(reserved)
    require(shadowing.isEmpty,
      s"phaseAssign appends/consumes ${reserved.mkString("/")}; rename: ${shadowing.mkString(", ")}")
    val rows = Sketches.logBucketed(
      df.withColumn("__q", Sketches.quantized(difficulty, scale)), subBits)
    val hist = rows.groupBy(col("m"), col("sub")).agg(count(lit(1)).as("__n"))
    // Cumulative histogram share: bounded frames use a one-task window,
    // and unbounded global orderings use [[graft.plans.RunningTotals]].
    // The histogram is bounded (≤ 64·2^subBits rows — the point of the
    // sketch), and the corpus-build plan pins forbid the range exchange
    // RunningTotals would add.
    val cumW = Window.orderBy(col("m"), col("sub"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = hist
      .withColumn("__cum", sum(col("__n")).over(cumW))
      .withColumn("__tot", sum(col("__n")).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("m"), col("sub"),
        (col("__cum").cast("double") / col("__tot").cast("double")).as("__pctl"))
    def pace(p: Int): Column = {
      val frac = lit(p.toDouble) / lit(phases.toDouble)
      if (rootPacing) sqrt(frac) else frac
    }
    val phase = (1 until phases).foldRight(lit(phases): Column) { (p, acc) =>
      when(col("__pctl") <= pace(p), lit(p)).otherwise(acc)
    }
    rows.join(broadcast(cdf), Seq("m", "sub"))
      .withColumn("pctl_r", roundPinned(col("__pctl"), 6))
      .withColumn("phase", phase)
      .drop("__q", "m", "sub", "__pctl")
  }

  /** [[phaseAssign]] when only a GATED slice of the frame defines and
    * receives the curriculum — the corpus-build shape: phases order
    * the TRAIN split while val/test rows ride along with NULL
    * curriculum columns. Composing that as `phaseAssign(df.filter(
    * gate)) ⋈ df` re-joins two corpus-sized frames on the row id — a
    * full shuffle of the corpus at 100 TB. Here the CDF histogram
    * simply COUNTS gate rows only; every row still reads its bucket's
    * cumulative share from the broadcast CDF (left join — an off-gate
    * row's bucket may be absent from the gated histogram) and the
    * output columns mask to NULL off gate. Gate rows get pctl_r/phase
    * bit-identical to `phaseAssign` over the gated slice alone
    * (spec-pinned); the only exchanges are the tiny histogram
    * aggregation phaseAssign already pays.
    *
    * Contract differences from [[phaseAssign]]: ALL off-gate rows
    * survive (their difficulty is not evaluated — it may be NULL);
    * gate rows with NULL/negative difficulty are still dropped, same
    * as phaseAssign. A NULL gate counts as off-gate.
    */
  def phaseAssignGated(
      df: DataFrame,
      difficulty: Column,
      gate: Column,
      phases: Int = 4,
      rootPacing: Boolean = true,
      subBits: Int = 3,
      scale: Double = 1e6): DataFrame = {
    require(phases >= 1 && phases <= 64, s"phases must be in [1, 64]: $phases")
    val reserved = Set("pctl_r", "phase", "m", "sub", "__q", "__pctl", "__gate")
    val shadowing = df.columns.filter(reserved)
    require(shadowing.isEmpty,
      s"phaseAssignGated appends/consumes ${reserved.mkString("/")}; " +
        s"rename: ${shadowing.mkString(", ")}")
    // off-gate rows pin __q = 0 so logBucketed's NULL/negative drop
    // can only ever remove GATE rows (the documented phaseAssign
    // semantics), never a val/test row with an undefined difficulty
    val rows = Sketches.logBucketed(
      df.withColumn("__gate", gate)
        .withColumn("__q",
          when(col("__gate"), Sketches.quantized(difficulty, scale))
            .otherwise(lit(0L))),
      subBits)
    val hist = rows.filter(col("__gate"))
      .groupBy(col("m"), col("sub")).agg(count(lit(1)).as("__n"))
    // same bounded-histogram one-task window as phaseAssign
    val cumW = Window.orderBy(col("m"), col("sub"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = hist
      .withColumn("__cum", sum(col("__n")).over(cumW))
      .withColumn("__tot", sum(col("__n")).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("m"), col("sub"),
        (col("__cum").cast("double") / col("__tot").cast("double")).as("__pctl"))
    def pace(p: Int): Column = {
      val frac = lit(p.toDouble) / lit(phases.toDouble)
      if (rootPacing) sqrt(frac) else frac
    }
    val phase = (1 until phases).foldRight(lit(phases): Column) { (p, acc) =>
      when(col("__pctl") <= pace(p), lit(p)).otherwise(acc)
    }
    rows.join(broadcast(cdf), Seq("m", "sub"), "left")
      .withColumn("pctl_r", when(col("__gate"), roundPinned(col("__pctl"), 6)))
      .withColumn("phase", when(col("__gate"), phase))
      .drop("__q", "m", "sub", "__pctl", "__gate")
  }
}
