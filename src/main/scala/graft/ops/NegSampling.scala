package graft.ops

import graft.plans.RunningTotals
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.roundPinned

/** Negative sampling from the α-smoothed unigram distribution — the
  * word2vec/contrastive-training staple (Mikolov et al. 2013: draw
  * negatives ∝ freq^0.75; the 3/4 power up-weights the tail so rare
  * tokens are seen as negatives at all). Deterministic end to end:
  * the "draws" are seeded hashes, so retries, speculative tasks, and
  * an external engine all reproduce the same negatives.
  *
  * Exactness contract:
  *  - freq^0.75 is computed as `sqrt(f · sqrt(f))` — sqrt is
  *    IEEE-mandated correctly rounded in BOTH engines, so the
  *    composed value is bit-identical cross-engine, where a direct
  *    `pow(f, 0.75)` is only 1-ulp on the JVM;
  *  - weights quantize to integer 1e-6 units and the CDF is an
  *    integer prefix sum over token order — order-pinned and exact;
  *  - a draw is `h64(seed, id|slot) mod total`, an exact integer in
  *    [0, total); the sampled negative is the token whose
  *    [cum_lo, cum_hi) interval contains it. No float anywhere in
  *    the sampling path.
  *
  * Scale shape: one corpus scan for frequencies (map-side combined);
  * the vocabulary is an unbounded global ordering, so the CDF prefix
  * sum and its grand total are one [[RunningTotals]] (bounded frames
  * use a one-task window instead); draws are a pure projection of
  * (id, slot); the inverse-CDF lookup is a BUCKETED EQUI-join — the
  * CDF explodes each interval to the ≈B·width/total grid buckets it
  * spans (ΣB + vocab rows total) and each draw joins its single
  * bucket, then an exact interval filter — so there is no range join
  * and no per-draw vocabulary scan at any corpus size. The bucketed
  * CDF rides a broadcast.
  */
object NegSampling {

  /** α=0.75-smoothed sampling weights with the integer CDF:
    * (token, freq, q, cum_hi, cum_lo) where q = round(f^0.75 · 1e6)
    * and [cum_lo, cum_hi) tile [0, Σq) in token order.
    */
  def smoothedCdf(
      freqs: DataFrame,
      tokenCol: String,
      freqCol: String): DataFrame =
    cdfWithTotal(freqs, tokenCol, freqCol).drop("__total")

  /** [[smoothedCdf]] plus `__total` = Σq on every row. */
  private def cdfWithTotal(
      freqs: DataFrame,
      tokenCol: String,
      freqCol: String): DataFrame = {
    // f^0.75 = sqrt(f · sqrt(f)): correctly-rounded steps only
    val f = col("freq").cast("double")
    val weighted = freqs
      .filter(col(freqCol) > 0)
      .select(col(tokenCol).as("token"), col(freqCol).cast("long").as("freq"))
      .withColumn("q", roundPinned(sqrt(f * sqrt(f)) * lit(1e6)).cast("long"))
    RunningTotals.withRunningTotals(
        weighted, Seq(col("token")), Seq("cum_hi" -> col("q")),
        grandTotals = Seq("__total" -> col("q")))
      .withColumn("cum_lo", col("cum_hi") - col("q"))
  }

  /** `k` deterministic negatives for every row of `ids`:
    * (idCol, slot, neg_token, draw). Tokens equal to the row's own
    * positive are NOT excluded here — pass `excludeCol` to drop
    * collisions (the standard trade: w2v resamples, batch pipelines
    * usually just drop, keeping ≤ k negatives per row).
    */
  def sampleNegatives(
      ids: DataFrame,
      idCol: String,
      freqs: DataFrame,
      tokenCol: String,
      freqCol: String,
      k: Int,
      seed: String = "neg42",
      buckets: Int = 1024,
      excludeCol: Option[String] = None,
      hasher: (Column, Column) => Column = TextAnalysis.h64): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    val cdf = cdfWithTotal(freqs, tokenCol, freqCol)
    val total = cdf.select(col("__total")).limit(1)
    // Grid step = max(total div B, 1); bucket(x) = x div step. Each CDF
    // interval explodes to the buckets it overlaps — Σ spans ≈ B + vocab.
    // `div`: exact INTEGRAL division (the oracle's `//`) — a double
    // `/`+floor could round an x.99999… quotient up at 1e14-scale
    // values and shift a boundary bucket by one. Division-only form
    // (never `x * B`): the earlier `cum_hi * buckets` product overflowed
    // signed long once Σq exceeded 2^63/B ≈ 9e15 at B=1024 — plausible
    // at the corpus scale this op targets (ADVICE r17). The bucket is
    // only a join key; the exact interval filter below fixes the result,
    // so the changed bucket boundary function is output-invariant.
    val step = s"greatest(__total div $buckets, 1L)"
    val bucketed = cdf
      .withColumn("__bkt", explode(sequence(
        expr(s"cum_lo div $step"),
        expr(s"(cum_hi - 1) div $step"))))
      .select(col("__bkt"), col("token"), col("cum_lo"), col("cum_hi"))
    val exclude = excludeCol.map(col(_).cast("string"))
    val draws = ids
      .withColumn("slot", explode(sequence(lit(1), lit(k))))
      .crossJoin(broadcast(total))
      .withColumn("draw", pmod(
        hasher(lit(seed),
          concat(col(idCol).cast("string"), lit("|"), col("slot").cast("string"))),
        greatest(col("__total"), lit(1L))))
      .withColumn("__bkt", expr(s"draw div $step"))
    val out = draws
      .join(broadcast(bucketed), Seq("__bkt"))
      .filter(col("cum_lo") <= col("draw") && col("draw") < col("cum_hi"))
      .withColumnRenamed("token", "neg_token")
    exclude.fold(out)(pos => out.filter(col("neg_token") =!= pos))
      .select(col(idCol), col("slot"), col("neg_token"), col("draw"))
  }
}
