package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.GraftFunctions.roundPinned
import graft.plans.RunningTotals

/** Corpus-curation operators for training-data pipelines: deterministic
  * split assignment, stratified sampling, PII redaction, benchmark
  * decontamination, token-budget sequence packing, and vocabulary
  * building.
  *
  * The reference stops at cleaning/enrichment
  * (`/root/reference/yelp_etl/pipeline/clean.py`,
  * `enrich.py`); these are the operations a pre-training data run
  * applies AFTER that stage, designed Spark-first:
  *
  *   - split/sample/redact are pure codegen'd projections — zero
  *     shuffle, cost is one map pass at any scale;
  *   - decontamination broadcasts the (small by definition) benchmark
  *     side and streams the corpus;
  *   - packing pays exactly one range shuffle — the unavoidable price
  *     of a globally ordered layout — plus a per-partition-offsets
  *     count job (bounded driver data: numPartitions longs);
  *   - vocabulary is a map-side-combined hash agg + bounded top-k
  *     (TakeOrderedAndProject — no global sort).
  *
  * Hashing follows the repo-wide convention ([[TextAnalysis.h64]]):
  * callers default to the fast `xxhash64` path; oracle queries pass
  * the md5-derived cross-engine hasher explicitly.
  */
object Curation {

  /** 0..9999 deterministic bucket for a row id — the basis of split
    * assignment and sampling. Same id + seed → same bucket on any
    * cluster, any partitioning, any engine (with the md5 hasher).
    */
  def bucket10k(
      seed: Long,
      id: Column,
      hasher: (Column, Column) => Column = TextAnalysis.fastH64): Column =
    pmod(hasher(lit(seed), id.cast("string")), lit(10000L))

  /** Assign each row to a named split ("train"/"val"/"test"/…) by
    * cumulative weight over the deterministic [[bucket10k]]. Weights
    * need not sum to 1 — they are normalized. Pure projection: no
    * shuffle, no RNG state, reproducible under retries/speculative
    * execution (a `rand()`-based split is not: a re-executed task
    * re-draws and rows silently change splits mid-job).
    */
  def assignSplit(
      df: DataFrame,
      idCol: String,
      weights: Seq[(String, Double)],
      seed: Long = 42L,
      hasher: (Column, Column) => Column = TextAnalysis.fastH64): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "weights must be positive")
    val reserved = Set("bucket", "split")
    val shadowing = df.columns.filter(reserved)
    require(shadowing.isEmpty,
      s"assignSplit appends ${reserved.mkString("/")}; " +
        s"rename: ${shadowing.mkString(", ")}")
    val total = weights.map(_._2).sum
    val cuts = weights.scanLeft(0.0)(_ + _._2).tail.map(w => (w / total * 10000).round)
    val b = bucket10k(seed, col(idCol), hasher)
    val expr = weights.map(_._1).zip(cuts).init
      .foldRight(lit(weights.last._1): Column) { case ((name, cut), acc) =>
        when(b < lit(cut), lit(name)).otherwise(acc)
      }
    df.withColumn("bucket", b).withColumn("split", expr)
  }

  /** Group-integrity split assignment — the leakage-safe variant of
    * [[assignSplit]]: the hash decision is taken on the GROUP key
    * (site/domain/author), so every row of a group lands in the same
    * split and near-identical documents from one source can never
    * straddle train/test. Same deterministic bucket-of-10k contract;
    * the decision column is a pure projection of the group key, so
    * at 100 TB this is still one scan, no shuffle, no group
    * materialization.
    */
  def assignSplitBy(
      df: DataFrame,
      groupCol: String,
      weights: Seq[(String, Double)],
      seed: Long = 42L,
      hasher: (Column, Column) => Column = TextAnalysis.fastH64): DataFrame =
    assignSplit(df, groupCol, weights, seed, hasher)

  /** Keep each row with a per-stratum probability, deterministically:
    * row survives iff its [[bucket10k]] falls under `rate × 10000` for
    * its stratum. Unlike `df.stat.sampleBy`, the decision is a pure
    * function of (id, seed) — stable across retries, partitionings,
    * and engines — and the filter is codegen'd, so down-sampling a
    * 100 TB corpus is one scan with no shuffle.
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      rates: Seq[(String, Double)],
      defaultRate: Double = 0.0,
      seed: Long = 7L,
      hasher: (Column, Column) => Column = TextAnalysis.fastH64): DataFrame = {
    val b = bucket10k(seed, col(idCol), hasher)
    val cut = rates.foldRight(lit((defaultRate * 10000).round): Column) {
      case ((stratum, rate), acc) =>
        when(col(strataCol) === lit(stratum), lit((rate * 10000).round)).otherwise(acc)
    }
    df.filter(b < cut)
  }

  /** Deterministic k-per-group sample: the k rows with the smallest
    * seeded id-hash within each group — a reservoir sample whose
    * "random" order is a hash, so it is retry-stable, partitioning-
    * independent, and reproducible by any engine (unlike
    * `rand()`-ranked reservoirs). The rank ≤ k filter rewrites to
    * WindowGroupLimit: each map task keeps at most k rows per group
    * before the shuffle, so the exchange moves O(groups × k) rows at
    * any corpus size.
    */
  def samplePerGroup(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      k: Int,
      seed: Long = 11L,
      hasher: (Column, Column) => Column = TextAnalysis.fastH64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(hasher(lit(seed.toString), col(idCol).cast("string")), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** PII patterns: conservative ASCII regexes that Java and RE2 (DuckDB)
    * interpret identically — no lookaround, no unicode classes.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  val ipPattern = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"

  /** Redact emails, then IPs, then phone numbers (emails first so a
    * digits-in-domain address can't leave a partial match for the
    * narrower patterns). One codegen'd projection, no shuffle.
    */
  /** Weighted sampling without replacement (the Efraimidis–Spirakis
    * exponential race, hash-determinized): each row draws a
    * deterministic uniform `u ∈ (0, 1]` from `hasher(seed, id)` and
    * races with key `−ln(u) / weight` — the `k` SMALLEST keys win,
    * each row's win probability proportional to its weight (the
    * minimum of exponential clocks). No RNG state: same (id, seed) →
    * same key on any partitioning, any retry, any engine — the same
    * reproducibility argument as [[assignSplit]], extended to
    * weighted draws.
    *
    * Keys round to 6 decimals BEFORE ranking with the row id as
    * tiebreak (the repo-wide ln-ulp convention: a math-library ulp
    * must not flip the cut). Rows with NULL or non-positive weight
    * are excluded — they have no race to run. The top-k lowers to
    * TakeOrderedAndProject: every partition keeps k rows, no global
    * sort at any scale.
    *
    * Output: the input row + `skey` (the race key), k rows.
    */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Int,
      seed: Long = 42L,
      hasher: (Column, Column) => Column = TextAnalysis.fastH64): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(!df.columns.contains("skey"),
      "weightedSample appends output column skey; rename the existing")
    val m = 1L << 30
    val u = (pmod(hasher(lit(seed), col(idCol).cast("string")), lit(m)) + 1L)
      .cast("double") / lit((m + 1L).toDouble)
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("skey", roundPinned(-log(u) / col(weightCol), 6))
      .orderBy(col("skey"), col(idCol))
      .limit(k)
  }

  /** Per-group token-budget enforcement: within each `groupCol` (a
    * source/domain), walk documents in `orderCol` order accumulating
    * whitespace-token counts, and flag the prefix whose running total
    * stays within `budgetTokens` — the "cap every domain's
    * contribution" step of a corpus-mixing recipe, as enforced code
    * with an exact audit trail instead of a post-hoc count.
    *
    * Output: input columns + `n_tokens` (this doc), `cum_tokens`
    * (running total including this doc), `kept` (cum_tokens ≤
    * budget). Callers filter `kept` for the capped corpus and keep
    * the complement for the audit.
    *
    * Scale shape: one hash exchange by group + an in-partition sort
    * for the running-sum window; token counting is a codegen'd
    * projection (`size(split(..))` — no explode, the token ARRAY is
    * never materialized per row beyond the count). Groups are
    * domains/sources — many and modest at corpus scale; a single
    * pathological group serializes its own window only (same
    * contract as [[mixSources]], whose partition-offset prefix sum is
    * the escape hatch if one group is corpus-sized).
    */
  def tokenBudget(
      df: DataFrame,
      textCol: String,
      groupCol: String,
      budgetTokens: Long,
      orderCol: Column): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive: $budgetTokens")
    val reserved = Set("n_tokens", "cum_tokens", "kept")
    val shadowing = df.columns.filter(reserved)
    require(shadowing.isEmpty,
      s"tokenBudget appends ${reserved.mkString("/")}; " +
        s"rename: ${shadowing.mkString(", ")}")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(
        "n_tokens", size(TextAnalysis.tokens(col(textCol))).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("kept", col("cum_tokens") <= budgetTokens)
  }

  def redactPii(text: Column): Column = {
    val e = regexp_replace(text, emailPattern, "[EMAIL]")
    val i = regexp_replace(e, ipPattern, "[IP]")
    regexp_replace(i, phonePattern, "[PHONE]")
  }

  /** Per-category PII hit counts (audit columns for a redaction job). */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> regexp_count(text, lit(emailPattern)).cast("long"),
    "n_ips" -> regexp_count(text, lit(ipPattern)).cast("long"),
    "n_phones" -> regexp_count(text, lit(phonePattern)).cast("long"))

  /** Table-wide PII exposure report: for each named string column, one
    * row `(column, n_rows, n_emails, n_ips, n_phones,
    * n_rows_with_pii)` — the compliance scan a pipeline runs over a
    * WHOLE table before release, not just the one column it remembered
    * to redact. Same one-pass shape as [[Expectations.profile]]: every
    * column's four counters live inside ONE map-side-combined global
    * aggregate, so scanning 40 columns of a 100 TB table costs exactly
    * one scan; NULL cells count in no category.
    */
  def piiScan(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val pats = Seq(
      "n_emails" -> emailPattern, "n_ips" -> ipPattern,
      "n_phones" -> phonePattern)
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      val t = col(c)
      val anyHit = pats.map { case (_, p) => regexp_count(t, lit(p)) }
        .reduce(_ + _) > 0
      count(t).as(s"__n$i") +:
        pats.map { case (n, p) =>
          sum(regexp_count(t, lit(p)).cast("long")).as(s"__$n$i")
        } :+ count(when(anyHit, 1)).as(s"__hit$i")
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.zipWithIndex.map { case (c, i) =>
          struct(
            lit(c).as("column"),
            col(s"__n$i").as("n_rows"),
            col(s"__n_emails$i").as("n_emails"),
            col(s"__n_ips$i").as("n_ips"),
            col(s"__n_phones$i").as("n_phones"),
            col(s"__hit$i").as("n_rows_with_pii"))
        }: _*)).as("x"))
      .select("x.column", "x.n_rows", "x.n_emails", "x.n_ips",
        "x.n_phones", "x.n_rows_with_pii")
  }

  /** Benchmark decontamination: (doc_id, bench_id, n_shared) for every
    * corpus document sharing ≥ `minShared` distinct word-`shingleN`-gram
    * shingles with a benchmark document — the standard n-gram-overlap
    * contamination check run before training on scraped corpora.
    *
    * Scale shape: both sides shingle through the codegen'd
    * [[Dedup.shinglesExploded]]; per-doc duplicate grams collapse
    * WITHOUT a new shuffle (the exploded rows are already partitioned
    * by doc id, which satisfies the distinct's clustering); the
    * benchmark side — small by definition — broadcasts, so the corpus
    * is never shuffled by content; the (doc, bench) overlap counts
    * aggregate with map-side partials. Corpus cost: one scan + one
    * bounded aggregation, no corpus-sized shuffle.
    */
  def decontaminate(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3,
      minShared: Long = 1L): DataFrame = {
    def grams(df: DataFrame, as: String) =
      Dedup.shinglesExploded(df, textCol, idCol, shingleN)
        .select(col(idCol).as(as), col("__sh")).distinct()
    grams(corpus, "doc_id")
      .join(broadcast(grams(bench, "bench_id")), "__sh")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[decontaminate]] with a Bloom pre-filter on the corpus side —
    * the 100 TB form. The exact path explodes EVERY corpus gram into a
    * `distinct` shuffle before the bench join; at corpus >> bench that
    * shuffle is the dominant cost and almost all of it is grams that
    * cannot match. Here a driver-built Bloom filter over the bench
    * gram hashes (bounded: ~1.2 MB per million grams at fpp 0.01,
    * built by one job over the SMALL bench side) is shipped as a plan
    * constant and probed per corpus gram via the codegen'd
    * [[graft.functions.BloomMightContainExpr]] BEFORE the distinct —
    * map-side, pre-shuffle, UDF-free. Bloom false positives survive
    * the probe but die in the exact gram join, so the output is
    * BIT-IDENTICAL to [[decontaminate]] (same oracle); false negatives
    * don't exist by the Bloom contract, so no real overlap is lost.
    */
  def decontaminateBloom(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3,
      minShared: Long = 1L,
      fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1): $fpp")
    // bench grams feed two consumers (bloom build + exact join):
    // persist once, released by CachedFrames.unpersistAll
    val benchGrams = graft.CachedFrames.persistOnce(
      Dedup.shinglesExploded(bench, textCol, idCol, shingleN)
        .select(col(idCol).as("bench_id"), col("__sh")).distinct())
    val hashes = benchGrams.select(xxhash64(col("__sh")).as("__gh")).distinct()
    val expected = math.max(1L, hashes.count())
    val bloom = hashes.stat.bloomFilter("__gh", expected, fpp)
    val pruned = Dedup.shinglesExploded(corpus, textCol, idCol, shingleN)
      .select(col(idCol).as("doc_id"), col("__sh"))
      .filter(graft.functions.BloomMightContainExpr.mightContain(
        xxhash64(col("__sh")), bloom))
      .distinct()
    pruned.join(broadcast(benchGrams), "__sh")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Token-budget sequence packing (concat-and-chunk): documents are
    * laid out in `idCol` order, token counts accumulate, and each doc
    * is stamped with the `budget`-sized pack it starts in
    * (`pack_id = floor(tokens_before / budget)`) and its offset within
    * that pack — the deterministic "concatenate the corpus and cut
    * every `budget` tokens" layout pre-training batch assembly uses
    * (documents may straddle a boundary; the consumer splits or drops
    * the remainder).
    *
    * Same two-pass partition-offset shape as
    * [[Surrogate.withSequentialId]] — a prefix sum, NOT a global
    * window: range-shuffle by id, per-partition token totals (one
    * lightweight job, numPartitions longs to the driver), then each
    * partition computes its running sum independently from its
    * offset. No single-task bottleneck at any scale.
    *
    * `tokenCol` must be a non-null LongType column (e.g.
    * [[TextAnalysis.bpeTokenCount]] materialized by the caller).
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      tokenCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val packReserved = Seq("pack_id", "pack_offset")
    val packShadowing = df.columns.filter(packReserved.contains)
    require(
      packShadowing.isEmpty,
      s"packSequences appends output columns ${packReserved.mkString("/")}; " +
        s"rename the existing: ${packShadowing.mkString(", ")}")
    val spark = df.sparkSession
    // Both passes (the offsets pre-pass collect below and the caller's
    // eventual action on the packed frame) scan this sorted frame:
    // persist it once so the shuffle+sort is paid once, not twice
    // (measured 2× end-to-end on the MixProbe replica corpus). The
    // plan-keyed registry dedupes repeated calls; the caller releases
    // via CachedFrames.unpersistAll() as everywhere else.
    val sorted = graft.CachedFrames.persistOnce(
      df.repartitionByRange(col(idCol)).sortWithinPartitions(col(idCol)))
    val rdd = sorted.rdd
    val tokIdx = sorted.schema.fieldIndex(tokenCol)
    val partSums = rdd
      .mapPartitions(it => Iterator.single(it.foldLeft(0L)(_ + _.getLong(tokIdx))))
      .collect()
    val offsets = partSums.scanLeft(0L)(_ + _)
    val packed = rdd.mapPartitionsWithIndex { (pi, it) =>
      var cum = offsets(pi)
      it.map { row =>
        val out = Row.fromSeq(row.toSeq :+ (cum / budget) :+ (cum % budget))
        cum += row.getLong(tokIdx)
        out
      }
    }
    spark.createDataFrame(
      packed,
      sorted.schema
        .add("pack_id", LongType, nullable = false)
        .add("pack_offset", LongType, nullable = false))
  }

  /** Temperature-scaled source mixing weights — the standard
    * multinomial upsampling rule (`p_s ∝ n_s^(1/T)`, the mT5/XLM-R
    * recipe) that DECIDES the `weights` argument of [[mixSources]]:
    * T = 1 reproduces natural proportions, T > 1 flattens the blend
    * toward uniform (boosting low-resource sources), T < 1 sharpens
    * it. One row per source: exact token count, natural share, the
    * normalized temperature weight, and the oversample factor
    * (weight / natural share — how many epochs of the source the
    * blend effectively takes; the number an operator sanity-checks
    * against duplication harm before committing a mix).
    *
    * Scale shape: one map-side-combined groupBy collapses the corpus
    * to |sources| rows; the total and the normalizer ride broadcast
    * 1-row frames. 100 TB in, |sources| rows out. Exactness: each
    * `p^(1/T)` quantizes to a 1e-12 fixed-point long BEFORE the
    * normalizing sum (the [[calibration]] trick), so the weights are
    * order-exact; the oversample factor is one deterministic division
    * of exact-integer products in double. An oracle must embed the
    * same `1/T` double literal this computes — and note the
    * transcendental caveat: `pow` is only 1-ulp-accurate on the JVM,
    * so a cross-engine replay can flip the fixed-point long when
    * `p^(1/T)·1e12` lands within ~1e-4 of a half-integer. T = 2 (the
    * flagship) routes through `sqrt`, which IEEE 754 REQUIRES to be
    * correctly rounded in every engine — bit-exact by mandate, not by
    * luck; other temperatures carry the (small) pow exposure.
    * Zero-token sources and an empty corpus degrade to NULL shares
    * via try_divide, never an ANSI divide-by-zero. The audit table
    * deliberately KEEPS zero-weight rows (an empty source is a
    * finding); a caller feeding the table into [[mixSources]] must
    * filter `weight > 0` first — mixSources' positive-weights
    * contract rejects them (spec-pinned in the composition test).
    */
  def temperatureWeights(
      df: DataFrame,
      sourceCol: String,
      tokenCol: String,
      temperature: Double): DataFrame = {
    require(temperature > 0, s"temperature must be > 0: $temperature")
    val exponent = 1.0 / temperature
    val perSource = df.groupBy(col(sourceCol).as("source"))
      .agg(sum(col(tokenCol)).as("n_tokens"))
    val total = perSource.agg(coalesce(sum("n_tokens"), lit(0L)).as("__nn"))
    val share = try_divide(col("n_tokens").cast("double"), col("__nn").cast("double"))
    val scaled = if (exponent == 0.5) sqrt(share) else pow(share, exponent)
    val weighted = perSource
      .crossJoin(broadcast(total))
      .withColumn("__wq", roundPinned(scaled * 1e12).cast("long"))
    val norm = weighted.agg(coalesce(sum("__wq"), lit(0L)).as("__sumw"))
    weighted
      .crossJoin(broadcast(norm))
      .select(
        col("source"),
        col("n_tokens"),
        roundPinned(share, 6).as("natural_share"),
        roundPinned(try_divide(col("__wq").cast("double"), col("__sumw").cast("double")), 6)
          .as("weight"),
        roundPinned(try_divide(
          col("__wq").cast("double") * col("__nn").cast("double"),
          col("__sumw").cast("double") * col("n_tokens").cast("double")), 6)
          .as("oversample"))
  }

  /** Source-weighted token-budget mixing: compose a training corpus
    * from `weights`-proportioned slices of each source. Every source
    * `s` gets an allocation `floor(tokenBudget × wₛ / Σw)`; within a
    * source, documents are taken in seeded-hash order (a deterministic
    * shuffle — retry-stable and partitioning-independent where
    * `rand()` is not) until the allocation fills. The document that
    * straddles its source's boundary is kept (same convention as
    * [[packSequences]]); sources absent from `weights` are dropped.
    * Appends `mix_tokens_before` — the tokens taken from the row's
    * source before it — as the audit column.
    *
    * Scale shape: the naive form is `sum(tokens) OVER (PARTITION BY
    * source ORDER BY hash)`, which serializes each source through ONE
    * window task — with 5-20 sources over 100 TB that is 5-20 tasks
    * doing all the work. Instead this reuses the [[packSequences]]
    * partition-offset prefix sum, generalized per-source: range-shuffle
    * by (source, hash), collect per-partition PER-SOURCE token totals
    * (bounded driver data: ≤ numPartitions × |sources| longs), then
    * every partition computes its rows' running sums independently
    * from its offsets. Parallelism stays at numPartitions regardless
    * of how few sources there are.
    *
    * `tokenCol` must be a non-null LongType column (e.g.
    * [[TextAnalysis.bpeTokenCount]] materialized by the caller).
    *
    * FP convention: allocations are `floor(tokenBudget × wₛ / Σw)`
    * evaluated in double precision. For weight ratios that are not
    * exactly representable (0.1 + 0.2 …), double rounding can move an
    * allocation boundary by ±1 token versus exact rational arithmetic
    * — pass integer-valued weights (2.0/1.0 rather than 0.2/0.1) when
    * exact boundaries matter. Any external oracle must derive
    * allocations with the same double math to agree.
    */
  def mixSources(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      tokenCol: String,
      weights: Seq[(String, Double)],
      tokenBudget: Long,
      seed: Long = 13L,
      hasher: (Column, Column) => Column = TextAnalysis.fastH64): DataFrame = {
    require(tokenBudget > 0, "tokenBudget must be positive")
    require(weights.nonEmpty && weights.forall(_._2 > 0), "weights must be positive")
    require(weights.map(_._1).distinct.size == weights.size, "duplicate source in weights")
    val mixReserved = Seq("__mix_h", "mix_tokens_before")
    val shadowing = df.columns.filter(mixReserved.contains)
    require(
      shadowing.isEmpty,
      s"mixSources reserves column names ${mixReserved.mkString("/")} for " +
        s"internal staging and output; rename: ${shadowing.mkString(", ")}")
    val totalW = weights.map(_._2).sum
    val allocs = weights.map { case (s, w) =>
      s -> math.floor(tokenBudget * w / totalW).toLong
    }.toMap
    val spark = df.sparkSession

    val keyed = df
      .filter(col(sourceCol).isin(weights.map(_._1): _*))
      .withColumn("__mix_h", hasher(lit(seed.toString), col(idCol).cast("string")))
    // Persist across the two passes (per-source offsets pre-pass + the
    // caller's action): without it the range shuffle + sort runs twice
    // — measured 2× end-to-end slower than even the single-task-window
    // form at 5M rows (MixProbe). Plan-keyed, released by
    // CachedFrames.unpersistAll().
    val sorted = graft.CachedFrames.persistOnce(keyed
      .repartitionByRange(col(sourceCol), col("__mix_h"), col(idCol))
      .sortWithinPartitions(col(sourceCol), col("__mix_h"), col(idCol)))
    val rdd = sorted.rdd
    val srcIdx = sorted.schema.fieldIndex(sourceCol)
    val tokIdx = sorted.schema.fieldIndex(tokenCol)

    // Lightweight pre-pass: per-partition, per-source token totals.
    val partSums: Array[Map[String, Long]] = rdd.mapPartitions { it =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { r =>
        val s = r.getString(srcIdx)
        m.update(s, m.getOrElse(s, 0L) + r.getLong(tokIdx))
      }
      Iterator.single(m.toMap)
    }.collect()
    // offsets(pi)(src) = tokens of `src` in partitions before pi.
    val offsets: Array[Map[String, Long]] = partSums.scanLeft(Map.empty[String, Long]) {
      (acc, m) => m.foldLeft(acc) { case (a, (s, t)) => a.updated(s, a.getOrElse(s, 0L) + t) }
    }.init

    val allocB = spark.sparkContext.broadcast(allocs)
    val mixed = rdd.mapPartitionsWithIndex { (pi, it) =>
      val cum = scala.collection.mutable.Map[String, Long](offsets(pi).toSeq: _*)
      it.flatMap { row =>
        val s = row.getString(srcIdx)
        val before = cum.getOrElse(s, 0L)
        cum.update(s, before + row.getLong(tokIdx))
        if (before < allocB.value(s)) Some(Row.fromSeq(row.toSeq :+ before)) else None
      }
    }
    spark.createDataFrame(
        mixed, sorted.schema.add("mix_tokens_before", LongType, nullable = false))
      .drop("__mix_h")
  }

  /** Top-`k` whitespace-token vocabulary by corpus frequency, ranked
    * with a total order (freq desc, then token) so the cut is
    * deterministic. explode → map-side-combined hash agg → bounded
    * top-k (`orderBy.limit` lowers to TakeOrderedAndProject: each
    * partition keeps k rows, no global sort). The rank is a
    * `row_number()` window over the ≤k survivors: TakeOrderedAndProject
    * already outputs a SINGLE partition sorted by exactly these keys,
    * so the window adds zero exchange and zero sort, and its "global
    * window" is over a k-row bounded input — not the
    * whole-dataset-through-one-task smell the codebase bans elsewhere.
    * (An RDD zipWithIndex here would sever the plan into
    * Scan ExistingRDD and lose the TakeOrderedAndProject pin —
    * VERDICT r12 #4.)
    */
  def vocabulary(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val topk = df.select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("token"))
    topk.select(col("token"), col("freq"),
      row_number().over(w).as("rank"))
  }

  // ------------------------------------------------ line-level dedup

  /** (idCol, __pos, __line) — documents split into lines, exploded
    * relationally. The explicit pre-explode repartition by id is the
    * same AQE-fanout guard as [[Dedup.shinglesExploded]]: the exchange
    * is bytes-small BEFORE the explode, and AQE would coalesce it to
    * one partition, blind to the per-row fanout. It also pre-satisfies
    * the per-document regroup in [[dedupLines]], so exploded rows
    * never shuffle again. `sep` is a literal separator (regex-quoted
    * for Spark's `split`), matching the oracle's literal
    * `string_split`. The trailing-empty-preserving limit (-1) keeps
    * line positions aligned with DuckDB, which never drops trailing
    * empties.
    */
  private[graft] def linesExploded(
      df: DataFrame,
      textCol: String,
      idCol: String,
      sep: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(
        col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep), -1))
          .as(Seq("__pos", "__line")))

  /** Per-line document-frequency census: (line, n_docs), one row per
    * distinct line content, `n_docs` = number of distinct documents
    * containing it. The boilerplate detector behind [[dedupLines]],
    * exposed on its own because a production pipeline LOGS this frame:
    * the lines crossing the ban threshold are exactly the site
    * chrome/footers the dedup strips, and reviewing them is how the
    * threshold gets tuned. Grouping key is `hasher(line)` so the
    * count shuffle moves fixed-width longs, not full line text at
    * 100 TB; `min(line)` recovers the (hash-collision-free in any
    * practical corpus) content deterministically — never `first`,
    * which is partition-order-dependent and oracle-hostile.
    */
  def lineDocFrequency(
      df: DataFrame,
      textCol: String,
      idCol: String,
      sep: String = "\n",
      hasher: Column => Column = TextAnalysis.fastBaseHash): DataFrame =
    linesExploded(df, textCol, idCol, sep)
      .groupBy(hasher(col("__line")).as("__lh"))
      .agg(min(col("__line")).as("line"), countDistinct(col(idCol)).as("n_docs"))
      .select("line", "n_docs")

  /** X57: line-level boilerplate removal (the CCNet/RefinedWeb line
    * dedup): drop every line that appears in more than `maxDocs`
    * distinct documents — site chrome, cookie banners, footers — and
    * reassemble each document from its surviving lines in original
    * order. Returns one row per input document:
    * (idCol, clean_text, n_kept, n_dropped); a fully-boilerplate
    * document survives with `clean_text = ""` (dropping it is a
    * separate, explicit quality decision).
    *
    * Sub-document granularity is what distinguishes this from every
    * doc-level dedup in [[Dedup]]: two pages sharing a footer are NOT
    * near-duplicates, but the footer itself is still training-data
    * noise repeated millions of times at corpus scale.
    *
    * Plan shape (pinned in PlanAuditSpec): one exchange by id before
    * the explode; the banned-line side aggregates hashed lines
    * (map-side-combined, fixed-width keys) and — being the rare lines
    * crossing a corpus-frequency threshold — broadcasts; the final
    * per-document regroup reuses the pre-explode hashpartitioning(id),
    * so the document text itself is shuffled exactly once end to end.
    * In-order reassembly is `array_sort(collect_list(struct(pos,
    * line)))` — collect_list has no ordering contract, the sort
    * restores it from the carried position.
    */
  def dedupLines(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxDocs: Long,
      sep: String = "\n",
      hasher: Column => Column = TextAnalysis.fastBaseHash): DataFrame = {
    require(maxDocs >= 1, "maxDocs must be >= 1")
    val lineReserved = Seq("__pos", "__line", "__lh", "clean_text", "n_kept", "n_dropped")
    val lineShadowing = df.columns.filter(lineReserved.contains)
    require(
      lineShadowing.isEmpty,
      s"dedupLines reserves column names ${lineReserved.mkString("/")} for " +
        s"internal staging and output; rename: ${lineShadowing.mkString(", ")}")
    val lines = graft.CachedFrames.persistOnce(linesExploded(df, textCol, idCol, sep))
    val banned = lines
      .groupBy(hasher(col("__line")).as("__lh"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") > maxDocs)
      .select("__lh")
    val flagged = lines
      .join(banned.hint("broadcast"), hasher(col("__line")) === banned("__lh"), "left")
      .select(
        col(idCol), col("__pos"), col("__line"),
        col("__lh").isNotNull.as("__banned"))
    val kept = when(!col("__banned"), struct(col("__pos"), col("__line")))
    flagged
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(kept)), x => x.getField("__line")),
          sep).as("clean_text"),
        count(when(!col("__banned"), lit(1))).as("n_kept"),
        count(when(col("__banned"), lit(1))).as("n_dropped"))
  }

  // ------------------------------------------------------------- chunking

  /** Overlapping token-window chunking — the document → model-input
    * materialization step for RAG indexing and long-context training:
    * each doc becomes ⌈(n − overlap) / (chunk − overlap)⌉ chunks of up
    * to `chunkTokens` tokens, consecutive chunks sharing
    * `overlapTokens` (so no span longer than the overlap is ever split
    * across a chunk boundary without appearing whole in one chunk).
    *
    * Chunk starts step by `chunkTokens − overlapTokens`; a trailing
    * start whose window would add NO token beyond the previous chunk's
    * coverage (`start + overlap ≥ n`, possible only when the doc tail
    * is shorter than the overlap) is dropped — emitting it would
    * produce a chunk fully contained in its predecessor, a pure
    * duplicate by construction (the X1 screen downstream would have to
    * clean up after us).
    *
    * Pure explode + codegen'd projection over one scan — no shuffle,
    * no window; output volume ≈ input tokens × chunk/(chunk−overlap).
    * Emits (id, chunk_id, start_tok, chunk_tokens, chunk_text) with
    * chunk_id dense from 0 in document order.
    */
  def chunkDocuments(
      df: DataFrame,
      textCol: String,
      idCol: String,
      chunkTokens: Int,
      overlapTokens: Int = 0): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1: $chunkTokens")
    require(
      overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlapTokens must be in [0, chunkTokens): $overlapTokens")
    val step = chunkTokens - overlapTokens
    // Tokenization is split-with-trailing-empties (identical in DuckDB),
    // so even an empty document yields [""] — one 1-token chunk of the
    // empty token, the same in both engines — and a NULL document's
    // NULL sequence explodes to no rows. A zero-length token array is
    // unreachable through that tokenizer; the guard below pins the
    // contract (no zero-token chunks) against any future tokenizer that
    // CAN return an empty array, where the unguarded sequence(0,
    // greatest(n-1,0)) would leak one chunk_tokens=0 row downstream.
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .withColumn("__n", size(col("__toks")))
      .withColumn(
        "__start",
        explode(sequence(lit(0), greatest(col("__n") - 1, lit(0)), lit(step))))
      .filter(col("__start") === 0 || col("__start") + lit(overlapTokens) < col("__n"))
      .select(
        col(idCol),
        (col("__start") / step).cast("int").as("chunk_id"),
        col("__start").as("start_tok"),
        least(col("__n") - col("__start"), lit(chunkTokens)).as("chunk_tokens"),
        concat_ws(" ", slice(col("__toks"), col("__start") + 1, lit(chunkTokens)))
          .as("chunk_text"))
  }

  // ----------------------------------------------------------- k-anonymity

  /** Equivalence classes under the quasi-identifier columns: one row
    * per distinct QI combination with its row count and an `at_risk`
    * flag (`n < k` — fewer than k individuals share the combination,
    * so releasing those columns re-identifies them). NULL is a value:
    * two rows both missing a QI are indistinguishable to an attacker,
    * which is exactly what groupBy's null handling models. One
    * map-side-combined hash aggregation.
    */
  def kAnonymityClasses(df: DataFrame, qidCols: Seq[String], k: Long): DataFrame = {
    require(qidCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k must be >= 2: $k")
    df.groupBy(qidCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("at_risk", col("n") < k)
  }

  /** One-row k-anonymity audit of a table against a target `k`:
    * `k_anonymity` (the MINIMUM class size — the table "is
    * k-anonymous" for that k), class/row totals, and how many classes
    * and rows fall below the target. The release-gate form of
    * [[kAnonymityClasses]] — a privacy check CLI thresholds on
    * `risk_rows == 0` the same way `--pipeline check` thresholds
    * expectation failures. Two aggregations (classes, then their
    * summary), both map-side combined.
    */
  def kAnonymityReport(df: DataFrame, qidCols: Seq[String], k: Long): DataFrame =
    kAnonymityClasses(df, qidCols, k)
      .agg(
        min(col("n")).as("k_anonymity"),
        count(lit(1)).as("n_classes"),
        sum(col("n")).as("n_rows"),
        count(when(col("at_risk"), lit(1))).as("risk_classes"),
        sum(when(col("at_risk"), col("n")).otherwise(lit(0L))).as("risk_rows"))

  /** l-diversity — the attribute-disclosure complement to
    * [[kAnonymityClasses]]: a class can be large (k-anonymous) yet
    * still leak if every member shares the SAME sensitive value — the
    * attacker learns the attribute without re-identifying anyone. Per
    * QI class: row count, DISTINCT sensitive-value count, and
    * `at_risk = distinct_sensitive < l`. A NULL sensitive value is a
    * value here too (learning "salary is missing" is disclosure —
    * count it; `countDistinct` would drop it, so NULLs fold into the
    * distinct count explicitly). One aggregation pass.
    */
  def lDiversityClasses(
      df: DataFrame,
      qidCols: Seq[String],
      sensitiveCol: String,
      l: Long): DataFrame = {
    require(qidCols.nonEmpty, "need at least one quasi-identifier column")
    require(!qidCols.contains(sensitiveCol),
      s"sensitive column $sensitiveCol cannot be a quasi-identifier")
    require(l >= 2, s"l must be >= 2: $l")
    df.groupBy(qidCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        (countDistinct(col(sensitiveCol)) +
          max(when(col(sensitiveCol).isNull, 1).otherwise(0)))
          .as("distinct_sensitive"))
      .withColumn("at_risk", col("distinct_sensitive") < l)
  }

  /** Keyed deterministic pseudonymization — the REMEDIATION the
    * privacy audits point at: replace identifier columns with stable
    * tokens `md5(secret | value)` (hex prefix, `tokenLen` chars) so
    * the released table still JOINS and GROUPS on the identifier
    * (same input → same token, across tables sharing the secret) but
    * the raw value is gone. NULL stays NULL (a fabricated token for
    * NULL would invent equality between missing values). The secret
    * is what separates this from plain hashing: without it a rainbow
    * table over a known id space (emails, SSNs) reverses the tokens.
    * Pure codegen'd projection — zero shuffle at any scale.
    *
    * This is pseudonymization, NOT anonymization: token-joinability
    * deliberately preserves linkage, so the k-anonymity/l-diversity/
    * t-closeness audits still apply to the released table.
    */
  def pseudonymizeColumns(
      df: DataFrame,
      cols: Seq[String],
      secret: String,
      tokenLen: Int = 16): DataFrame = {
    require(cols.nonEmpty, "need at least one column to pseudonymize")
    require(secret.nonEmpty, "secret must be non-empty (unkeyed tokens are reversible)")
    require(tokenLen >= 8 && tokenLen <= 32, s"tokenLen must be in [8, 32]: $tokenLen")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"no such columns: ${missing.mkString(", ")}")
    cols.foldLeft(df) { (acc, c) =>
      acc.withColumn(
        c,
        when(col(c).isNull, lit(null))
          .otherwise(substring(
            md5(concat(lit(secret), lit("|"), col(c).cast("string"))), 1, tokenLen)))
    }
  }

  /** t-closeness — the distribution-skew member of the privacy triad
    * (with [[kAnonymityClasses]] and [[lDiversityClasses]]): a class
    * can be diverse yet still leak when its sensitive-value
    * DISTRIBUTION deviates sharply from the table's (a class that's
    * 90% one diagnosis against a 10% base rate discloses plenty). Per
    * QI class, the total-variation distance to the global distribution
    * — `0.5 · Σ_v |p_class(v) − p_global(v)|`, the categorical
    * (uniform-ground-distance) instance of the published EMD form —
    * with `at_risk = distance > t`.
    *
    * The absent-value mass needs no class × vocabulary cross join:
    * values missing from a class contribute `Σ_absent p_global =
    * 1 − Σ_present p_global`, so
    * `distance = 0.5 · (Σ_present |p_c − p_g| + (1 − Σ_present p_g))`
    * and the plan is two map-side-combined aggregations (global dist,
    * class×value counts), one value equi-join (NULL-safe: a NULL
    * sensitive value is a value), a per-class window for the class
    * size, and one final per-class aggregation. Distances round to 4
    * decimals before the threshold compare.
    */
  def tClosenessClasses(
      df: DataFrame,
      qidCols: Seq[String],
      sensitiveCol: String,
      t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qidCols.nonEmpty, "need at least one quasi-identifier column")
    require(!qidCols.contains(sensitiveCol),
      s"sensitive column $sensitiveCol cannot be a quasi-identifier")
    require(t > 0 && t < 1, s"t must be in (0, 1): $t")
    val reserved = Set("__sv", "__v", "__gc", "__c", "__n", "__tot",
      "__pd", "__pm", "n", "distance", "at_risk")
    val shadowing = (qidCols :+ sensitiveCol).filter(reserved)
    require(shadowing.isEmpty,
      s"tClosenessClasses reserves ${reserved.mkString("/")}; rename: ${shadowing.mkString(", ")}")
    val total = df.agg(count(lit(1)).cast("double").as("__tot"))
    val global = df.groupBy(col(sensitiveCol).as("__v"))
      .agg(count(lit(1)).as("__gc"))
    // the class side aliases the sensitive column: both frames descend
    // from the same df, and a join condition naming the ORIGINAL
    // column on both sides resolves to one attribute (trivially-true
    // condition — every distance collapses to 0; caught by the oracle)
    val cv = df.groupBy(qidCols.map(col) :+ col(sensitiveCol).as("__sv"): _*)
      .agg(count(lit(1)).as("__c"))
    val n = sum(col("__c")).over(Window.partitionBy(qidCols.map(col): _*))
    cv.join(global, col("__sv") <=> col("__v"))
      .crossJoin(broadcast(total))
      .withColumn("__n", n)
      .groupBy(qidCols.map(col): _*)
      .agg(
        max(col("__n")).as("n"),
        sum(abs(col("__c") / col("__n") - col("__gc") / col("__tot")))
          .as("__pd"),
        sum(col("__gc") / col("__tot")).as("__pm"))
      .select(
        qidCols.map(col) :+ col("n") :+
          roundPinned(lit(0.5) * (col("__pd") + lit(1.0) - col("__pm")), 4)
            .as("distance"): _*)
      .withColumn("at_risk", col("distance") > t)
  }

  /** ROC-AUC (the Mann–Whitney statistic with the standard ½-credit
    * tie correction) plus class counts for a binary-labeled score —
    * the evaluation that CLOSES the filter loop (train → score →
    * gate → evaluate against labels): does the quality/fluency/
    * classifier score actually rank the positive class higher?
    *
    *   AUC = Σ_s pos(s) · (negBelow(s) + neg(s)/2) / (P·N)
    *
    * Scale shape: one map-side-combined groupBy collapses the corpus
    * to the per-DISTINCT-SCORE frame; the cumulative window runs over
    * THAT frame only — cost bounded by distinct scores, never a
    * corpus-sized global sort (scores arriving from this repo's
    * scorers are already rounded to 4 decimals, which is what keeps
    * the frame bounded; round a raw continuous score upstream).
    * Every summand is a multiple of ½ below 2^52, so the aggregate is
    * ORDER-EXACT in IEEE double — replayable without tolerance games.
    *
    * NULL/NaN scores and NULL labels are excluded; a degenerate input
    * (one class absent) returns AUC NULL rather than ±∞/NaN.
    */
  def binaryEval(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    val g = df
      .select(scoreCol.cast("double").as("__s"), labelCol.cast("boolean").as("__y"))
      .filter(col("__s").isNotNull && !isnan(col("__s")) && col("__y").isNotNull)
      .groupBy("__s")
      .agg(
        sum(when(col("__y"), 1L).otherwise(0L)).as("__p"),
        sum(when(col("__y"), 0L).otherwise(1L)).as("__n"))
    // Bounded frames use a one-task window; the distinct-score frame is
    // an unbounded global ordering (a raw continuous score), so the
    // negatives-strictly-below count is a [[RunningTotals]]. __s is
    // unique (groupBy key), so the exclusive ROWS frame is well-defined.
    val g2 = RunningTotals.withRunningTotals(
      g, Seq(col("__s")), Seq("__nb" -> col("__n")), includeCurrent = false)
    g2
      .agg(
        sum("__p").as("n_pos"),
        sum("__n").as("n_neg"),
        sum(col("__p").cast("double") *
          (col("__nb").cast("double") + col("__n").cast("double") / 2.0)).as("__num"))
      .select(
        col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          roundPinned(col("__num") / (col("n_pos").cast("double") * col("n_neg").cast("double")), 6))
          .as("auc"))
  }

  /** The threshold-sweep companion of [[binaryEval]]: one row per
    * DISTINCT score value with the confusion counts and metrics of
    * the gate "keep everything scoring ≥ this threshold" — the table
    * an operator reads to PICK the gate cut (AUC says whether the
    * score ranks; this says what each cut costs). Same scale shape:
    * the corpus collapses to the per-distinct-score frame first and
    * every window runs over that bounded frame. Counts are exact
    * longs; precision/recall/F1 are single divisions of exact longs
    * (F1 derived from the UNROUNDED ratios, rounded once at the end)
    * — deterministic cross-engine. Degenerate no-positive inputs
    * yield an empty frame.
    */
  def prCurve(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    val g = df
      .select(scoreCol.cast("double").as("__s"), labelCol.cast("boolean").as("__y"))
      .filter(col("__s").isNotNull && !isnan(col("__s")) && col("__y").isNotNull)
      .groupBy("__s")
      .agg(
        sum(when(col("__y"), 1L).otherwise(0L)).as("__p"),
        sum(when(col("__y"), 0L).otherwise(1L)).as("__n"))
    val prec = col("tp").cast("double") / (col("tp") + col("fp")).cast("double")
    val rec = col("tp").cast("double") / col("__ptot").cast("double")
    // Bounded frames use a one-task window; the distinct-score frame is
    // an unbounded global ordering, so the cumulative confusion counts
    // over score DESC and the positives grand total are one
    // [[RunningTotals]].
    RunningTotals.withRunningTotals(
        g, Seq(col("__s").desc),
        Seq("tp" -> col("__p"), "fp" -> col("__n")),
        grandTotals = Seq("__ptot" -> col("__p")))
      .filter(col("__ptot") > 0)
      .select(
        col("__s").as("threshold"), col("tp"), col("fp"),
        roundPinned(prec, 6).as("precision"),
        roundPinned(rec, 6).as("recall"),
        when(prec + rec > 0,
          roundPinned(lit(2.0) * prec * rec / (prec + rec), 6))
          .otherwise(lit(0.0)).as("f1"))
  }

  /** Sliced (per-group) ROC-AUC — [[binaryEval]] computed
    * independently per group: the robustness audit behind a global
    * AUC (a score can rank well overall while failing one source,
    * language, or time slice outright — Simpson's-paradox territory;
    * slicing is how an operator finds the failing stratum before the
    * filter ships). One row per group: class counts + the group's
    * Mann–Whitney AUC with ½-credit ties, NULL on single-class
    * groups — exactly [[binaryEval]]'s conventions.
    *
    * Scale shape improves on the global form: the distinct-score
    * frame is per (group, score), and the cumulative window is
    * PARTITIONED BY the group columns — parallel across groups, never
    * the one-partition WindowExec the ungrouped statistic needs.
    * Arithmetic is the same order-exact ½-multiples sum.
    */
  def binaryEvalBy(
      df: DataFrame,
      groupCols: Seq[String],
      scoreCol: Column,
      labelCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val reserved = Seq("__s", "__y", "__p", "__n", "__nb", "n_pos", "n_neg", "auc")
    val shadowing = groupCols.filter(reserved.contains)
    require(shadowing.isEmpty,
      s"binaryEvalBy reserves ${reserved.mkString("/")} for staging and " +
        s"output; rename group columns: ${shadowing.mkString(", ")}")
    import org.apache.spark.sql.expressions.Window
    val g = df
      .select(groupCols.map(col) :+ scoreCol.cast("double").as("__s") :+
        labelCol.cast("boolean").as("__y"): _*)
      .filter(col("__s").isNotNull && !isnan(col("__s")) && col("__y").isNotNull)
      .groupBy(groupCols.map(col) :+ col("__s"): _*)
      .agg(
        sum(when(col("__y"), 1L).otherwise(0L)).as("__p"),
        sum(when(col("__y"), 0L).otherwise(1L)).as("__n"))
    val below = Window.partitionBy(groupCols.map(col): _*).orderBy("__s")
      .rowsBetween(Window.unboundedPreceding, -1)
    g
      .withColumn("__nb", coalesce(sum("__n").over(below), lit(0L)))
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum("__p").as("n_pos"),
        sum("__n").as("n_neg"),
        sum(col("__p").cast("double") *
          (col("__nb").cast("double") + col("__n").cast("double") / 2.0)).as("__num"))
      .select(
        groupCols.map(col) :+ col("n_pos") :+ col("n_neg") :+
          when(col("n_pos") > 0 && col("n_neg") > 0,
            roundPinned(col("__num") / (col("n_pos").cast("double") * col("n_neg").cast("double")), 6))
            .as("auc"): _*)
  }

  /** Shared binning pass of [[calibration]] / [[calibrationError]]:
    * NULL/NaN-filtered scores clamped to [0, 1], assigned to the
    * fixed nBins grid, and QUANTIZED to 1e-4 fixed-point longs before
    * any aggregation — from here on every sum is an exact integer
    * sum, so the reliability means and the ECE are ORDER-EXACT and
    * replay bit-for-bit in any engine (the [[binaryEval]] ½-multiples
    * argument, bought here by quantization; ≤5e-5 of score resolution
    * is immaterial to a calibration diagram and matches the 4-decimal
    * rounding this repo's scorers already apply).
    */
  private def calibrationBins(
      df: DataFrame,
      scoreCol: Column,
      labelCol: Column,
      nBins: Int): DataFrame = {
    require(nBins >= 2 && nBins <= 10000, s"nBins must be in [2, 10000]: $nBins")
    df
      .select(scoreCol.cast("double").as("__s0"), labelCol.cast("boolean").as("__y"))
      .filter(col("__s0").isNotNull && !isnan(col("__s0")) && col("__y").isNotNull)
      .withColumn("__s", least(greatest(col("__s0"), lit(0.0)), lit(1.0)))
      .withColumn("bin", least(floor(col("__s") * nBins).cast("long"), lit(nBins - 1L)))
      .withColumn("__sfp", roundPinned(col("__s") * 10000).cast("long"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("__sfp")).as("__sfp"))
  }

  /** Reliability table — the calibration companion of [[binaryEval]]
    * and [[prCurve]], completing the filter-evaluation triad: AUC
    * says whether the score RANKS the positive class, the PR curve
    * says what each cut COSTS, this says whether the score can be
    * read as a PROBABILITY (Guo et al., ICML 2017 formulation).
    * Scores are clamped to [0, 1] and bucketed on the fixed
    * equal-width nBins grid; each occupied bin reports its count,
    * positive count, mean score, observed positive rate, and the
    * |mean − rate| gap — the per-bin summand of ECE.
    *
    * Scale shape: ONE map-side-combined groupBy collapses the corpus
    * to ≤ nBins rows; everything downstream is bin-grid arithmetic.
    * 100 TB in, nBins rows out. Exactness: see [[calibrationBins]] —
    * the mean and the gap divide exact integer sums once at the end,
    * so the table is deterministic cross-engine and retry-stable.
    * NULL/NaN scores and NULL labels are excluded; empty input yields
    * an empty table.
    */
  def calibration(
      df: DataFrame,
      scoreCol: Column,
      labelCol: Column,
      nBins: Int = 10): DataFrame =
    calibrationBins(df, scoreCol, labelCol, nBins).select(
      col("bin"),
      roundPinned(col("bin") / nBins.toDouble, 6).as("bin_lo"),
      roundPinned((col("bin") + 1) / nBins.toDouble, 6).as("bin_hi"),
      col("n"),
      col("n_pos"),
      roundPinned(col("__sfp") / (col("n") * 10000.0), 6).as("mean_score"),
      roundPinned(col("n_pos").cast("double") / col("n").cast("double"), 6).as("pos_rate"),
      roundPinned(abs(col("__sfp") - lit(10000L) * col("n_pos")) / (col("n") * 10000.0), 6)
        .as("gap"))

  /** The 1-row summary of [[calibration]]: expected calibration error
    * (bin-size-weighted mean gap — with both terms over the SAME bin
    * the weights cancel into `Σ_b |sfp_b − 10⁴·pos_b| / (10⁴·N)`, an
    * exact integer numerator summed as longs and divided ONCE) and
    * maximum calibration error (the worst single bin's gap — each a
    * single division of exact integers, so the max is deterministic).
    * Degenerate empty input reports (0, 0, NULL, NULL) rather than a
    * division error.
    */
  def calibrationError(
      df: DataFrame,
      scoreCol: Column,
      labelCol: Column,
      nBins: Int = 10): DataFrame = {
    val dev = abs(col("__sfp") - lit(10000L) * col("n_pos"))
    calibrationBins(df, scoreCol, labelCol, nBins)
      .agg(
        sum(col("n")).as("__n"),
        sum(col("n_pos")).as("__p"),
        sum(dev).as("__dev"),
        max(dev.cast("double") / (col("n") * 10000.0)).as("__mce"))
      .select(
        coalesce(col("__n"), lit(0L)).as("n"),
        coalesce(col("__p"), lit(0L)).as("n_pos"),
        when(col("__n") > 0,
          roundPinned(col("__dev") / (col("__n") * 10000.0), 6)).as("ece"),
        when(col("__n") > 0, roundPinned(col("__mce"), 6)).as("mce"))
  }

  /** ε-differentially-private histogram release — the Laplace
    * mechanism (Dwork, McSherry, Nissim, Smith, TCC 2006), the
    * REMEDIATION that closes the privacy family: where X88/X94/X95
    * audit a release and X101 pseudonymizes identifiers, this
    * releases an aggregate with a formal guarantee.
    *
    * Mechanics: counts over the FIXED `[lo, hi) × nBuckets` grid
    * ([[Expectations.histogram]] — clamping bounds every row's
    * contribution to exactly one bucket, so the L1 sensitivity of the
    * whole histogram is 1 per ROW; for user-level ε pre-aggregate to
    * one row per user first). Laplace(b = 1/ε) noise is added to
    * EVERY bucket of the grid including empty ones — releasing only
    * occupied buckets would leak exactly the set membership the noise
    * is meant to hide — then the release clamps at 0 and prunes below
    * `threshold` (the standard noisy-threshold trick for long sparse
    * grids).
    *
    * Noise derivation, deliberately: `u ∈ (0,1)` comes from the
    * md5-backbone hash of `secret|bucket` (53 bits + half-ulp offset,
    * never exactly 0, ½, or 1), then the standard inverse CDF
    * `−b·sign(u−½)·ln(1−2|u−½|)`. The mechanism's guarantee is only
    * as good as `u`'s unpredictability, so a production release MUST
    * pass a fresh cryptographically-random `secret` per publication —
    * what the determinism buys is replayability (the oracle
    * reproduces every noisy cell bit-for-bit given the secret) and
    * retry-stability (a re-run task adds the SAME noise instead of
    * doubling it — `rand()`-based noise silently degrades ε under
    * Spark task retries).
    *
    * Scale shape: one corpus scan (map-side-combined histogram);
    * everything after is nBuckets-sized arithmetic on the generated
    * spine. 100 TB in, nBuckets rows out.
    */
  def dpHistogram(
      df: DataFrame,
      valueCol: Column,
      lo: Double,
      hi: Double,
      nBuckets: Int,
      epsilon: Double,
      secret: String,
      threshold: Double = 0.0): DataFrame = {
    require(epsilon > 0, s"epsilon must be > 0: $epsilon")
    require(threshold >= 0, s"threshold must be >= 0: $threshold")
    val spark = df.sparkSession
    val hist = Expectations.histogram(df, valueCol, lo, hi, nBuckets)
      .select("bucket", "n")
    val spine = spark.range(nBuckets).select(col("id").as("bucket"))
    val m53 = 9007199254740992.0 // 2^53
    val u = ((TextAnalysis.h64(lit(secret), col("bucket").cast("string"))
      % (1L << 53)).cast("double") + 0.5) / m53
    val noise = -lit(1.0 / epsilon) * signum(u - 0.5) *
      log(lit(1.0) - lit(2.0) * abs(u - 0.5))
    spine
      .join(hist, Seq("bucket"), "left")
      .withColumn("released",
        roundPinned(greatest(lit(0.0), coalesce(col("n"), lit(0L)).cast("double") + noise), 4))
      .filter(col("released") >= threshold)
      .withColumn("bucket_lo", roundPinned(lit(lo) + col("bucket") * (hi - lo) / nBuckets, 6))
      .withColumn("bucket_hi", roundPinned(lit(lo) + (col("bucket") + 1) * (hi - lo) / nBuckets, 6))
      .select("bucket", "bucket_lo", "bucket_hi", "released")
  }

  // ---------------------------------------------- span corruption (T5)

  /** T5/UL2-style span corruption — the denoising-objective data prep:
    * mask ~`maskRate` of each document's tokens, collapse each RUN of
    * masked tokens to one `<extra_id_N>` sentinel in the corrupted
    * input, and emit the targets as sentinel-prefixed spans. Mask
    * decisions are a pure hash of (id, position) — deterministic
    * under retries, partitionings, and engines (a `rand()` mask would
    * re-corrupt differently on every task retry, silently changing
    * the training set).
    *
    * Span accounting is the gaps-and-islands trick WITHOUT a masked-
    * row self-join: one running `sum(masked)` window gives in-span
    * ranks, one `lag` flags span starts, one running sum of starts
    * numbers the spans — three windows over the SAME (id, pos)
    * ordering, so the whole op costs one exchange on the id plus a
    * final per-id ordered reassembly (sorted struct collect — Spark's
    * collect_list order is otherwise undefined). NULL text yields no
    * rows; a document with no masked token keeps its full text and an
    * empty `targets`.
    *
    * @return (id, corrupted, targets, n_tokens, n_masked, n_spans)
    */
  def spanCorrupt(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maskRate: Double = 0.15,
      seed: Long = 5L,
      hasher: (Column, Column) => Column = TextAnalysis.fastH64): DataFrame = {
    require(maskRate > 0 && maskRate < 1, s"maskRate must be in (0,1): $maskRate")
    import org.apache.spark.sql.expressions.Window
    val cut = (maskRate * 10000).round
    val toks = df.select(
      col(idCol),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "tok")))
    val masked = pmod(
      hasher(lit(seed), concat(col(idCol).cast("string"), lit("|"), col("pos"))),
      lit(10000L)) < lit(cut)
    val w = Window.partitionBy(idCol).orderBy("pos")
    val staged = toks
      .withColumn("__m", masked)
      .withColumn("__first",
        col("__m") && !coalesce(lag(col("__m"), 1).over(w), lit(false)))
      .withColumn("__span",
        sum(when(col("__first"), 1L).otherwise(0L)).over(w))
    val corrPiece = when(!col("__m"), col("tok"))
      .when(col("__first"),
        concat(lit("<extra_id_"), col("__span").cast("string"), lit(">")))
    val tgtPiece = when(col("__first"),
      concat(lit("<extra_id_"), col("__span").cast("string"), lit("> "), col("tok")))
      .when(col("__m"), col("tok"))
    def orderedConcat(piece: Column): Column =
      concat_ws(" ", org.apache.spark.sql.functions.transform(
        array_sort(collect_list(when(piece.isNotNull,
          struct(col("pos"), piece.as("p"))))),
        s => s.getField("p")))
    staged
      .groupBy(col(idCol))
      .agg(
        orderedConcat(corrPiece).as("corrupted"),
        orderedConcat(tgtPiece).as("targets"),
        count(lit(1)).as("n_tokens"),
        sum(col("__m").cast("long")).as("n_masked"),
        max(col("__span")).as("n_spans"))
  }

  // ------------------------------------------- source-fair quality gate

  /** Within-group quantile normalization: append `outCol` =
    * `percent_rank` of `scoreCol` inside each group — maps every
    * source's score distribution onto [0, 1] so a single threshold
    * means the same thing for every source. Raw quality scores are
    * NOT comparable across sources (a clean encyclopedia's 20th
    * percentile outscores a forum's 95th); gating on the raw score
    * starves whole sources, gating on the normalized rank keeps the
    * best fraction OF EACH. Ties share a rank (RANK semantics —
    * identical in any SQL engine), `(rank−1)/(n−1)` is one exact
    * division, and the only wide operation is the per-group sort —
    * parallel across groups, never a one-partition window.
    */
  def quantileNormalize(
      df: DataFrame,
      groupCols: Seq[String],
      scoreCol: Column,
      outCol: String = "pct"): DataFrame = {
    require(groupCols.nonEmpty, "quantileNormalize needs group columns")
    require(!df.columns.contains(outCol),
      s"quantileNormalize appends output column $outCol; rename the existing")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(scoreCol)
    df.withColumn(outCol, percent_rank().over(w))
  }

  /** Source-fair quality gate: keep the rows whose within-group
    * normalized score ([[quantileNormalize]]) reaches `1 − keepFrac` —
    * i.e. the top `keepFrac` OF EACH group, not of the pooled corpus.
    */
  def fairGate(
      df: DataFrame,
      groupCols: Seq[String],
      scoreCol: Column,
      keepFrac: Double): DataFrame = {
    require(keepFrac > 0 && keepFrac <= 1, s"keepFrac must be in (0,1]: $keepFrac")
    quantileNormalize(df, groupCols, scoreCol, "__pct")
      .filter(col("__pct") >= lit(1.0 - keepFrac))
      .drop("__pct")
  }
}
