package graft.ops

import graft.CachedFrames
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.TextAnalysis.{fastBaseHash, fastH64, shinglesOfTokens, tokens}
import graft.functions.GraftFunctions.roundPinned

/** Corpus deduplication for LLM training-data pipelines: exact
  * (content-hash groupBy), near-dup (MinHash + LSH banding), SimHash,
  * and exact n-gram Jaccard verification.
  *
  * 100 TB design notes:
  *  - Exact dedup is one hash-shuffle groupBy with map-side partial
  *    aggregation — the minimum possible cost for global dedup.
  *  - MinHash signatures are a single codegen'd projection (no
  *    shuffle); LSH banding shuffles `bands × rows` small records by
  *    band hash and only ever compares documents that share a bucket —
  *    never all pairs. Candidate volume is controlled by (k, bands):
  *    P(candidate) = 1 − (1 − J^r)^b for true Jaccard J, r = k/bands.
  *  - `maxBucketSize` caps the B² pair blow-up from pathologically
  *    common content (boilerplate, empty docs): oversized buckets are
  *    anti-joined away before pairing, trading recall on ultra-common
  *    content for a bounded shuffle; [[oversizedBuckets]] reports
  *    exactly what a cap would drop.
  *  - SimHash is explode → groupBy(id) with 64 tiny sums — partial
  *    aggregation makes the shuffle per-doc, not per-token.
  *  - All-pairs exact Jaccard exists only as the *verification* step
  *    over LSH candidates (or an explicitly bounded id range); the
  *    engine never plans an unbounded cross join.
  *
  * Hashing defaults to the production-speed xxhash64 forms
  * ([[TextAnalysis.fastBaseHash]]/[[TextAnalysis.fastH64]]); pass the
  * md5-derived [[TextAnalysis.baseHash]]/[[TextAnalysis.h64]] only
  * where an external SQL engine must reproduce results bit-for-bit
  * (the oracle queries do).
  *
  * Shared intermediate frames (shingles, signatures) persist through
  * [[graft.CachedFrames]]: each distinct plan caches once across
  * queries, and the caller releases them via
  * `CachedFrames.unpersistAll()` when the batch completes.
  */
object Dedup {

  type Hasher = (Column, Column) => Column

  // ---------------------------------------------------------------- exact

  /** Content fingerprint for exact dedup. */
  def fingerprint(text: Column): Column = md5(text)

  /** Exact dedup groups: fingerprint → surviving (minimum) id + copy
    * count. One hash-shuffle aggregation.
    */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_copies"))

  /** Keep one row (minimum id) per distinct content. */
  def dedupExact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val survivors = exactDupGroups(df, textCol, idCol)
      .select(col("survivor_id").as(idCol))
    df.join(survivors, Seq(idCol), "left_semi")
  }

  // --------------------------------------------- normalized ("fuzzy") exact

  /** Dedup-normal form of a text: lowercase, strip every character
    * that is not `[a-z0-9]` or whitespace, collapse whitespace runs to
    * one space, trim. The Gopher-recipe "fuzzy exact match": case,
    * punctuation, and formatting differences — the bulk of trivially
    * re-hosted web content — collapse to one fingerprint, while any
    * real wording change still misses. Sits strictly between
    * [[dedupExact]] (byte equality) and MinHash (Jaccard) in the
    * recall/cost spectrum at zero extra cost: still one projection +
    * one hash-shuffle groupBy, no shingles, no signatures.
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", ""),
      "\\s+", " "))

  /** [[exactDupGroups]] over the [[normalized]] form:
    * (fingerprint, survivor_id, n_copies), fingerprint = md5 of the
    * normal form.
    */
  def normalizedDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    exactDupGroups(
      df.withColumn("__norm", normalized(col(textCol))), "__norm", idCol)

  /** Keep one row (minimum id) per distinct normalized content. */
  def dedupExactNormalized(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val survivors = normalizedDupGroups(df, textCol, idCol)
      .select(col("survivor_id").as(idCol))
    df.join(survivors, Seq(idCol), "left_semi")
  }

  /** LSH banding parameter planner: the candidate probability
    * `P(candidate | J) = 1 − (1 − J^r)^b` (r = k/bands rows per band)
    * for every (k, bands) configuration × Jaccard level requested —
    * the curve an engineer reads to pick banding BEFORE paying for a
    * full run ("will 16/8 catch J=0.6 pairs? p=0.92; will it drown me
    * in J=0.2 noise? p=0.03"). Pure per-row math over a generated
    * grid (configs × jaccards rows total — driver-scale by nature);
    * probabilities round to 4 decimals (libm `pow` ulp convention).
    * Emits the s-curve threshold `(1/b)^(1/r)` per config too — the
    * Jaccard at which candidacy crosses ~50%.
    */
  def lshPlan(
      spark: org.apache.spark.sql.SparkSession,
      configs: Seq[(Int, Int)],
      jaccards: Seq[Double]): DataFrame = {
    require(configs.nonEmpty && jaccards.nonEmpty, "need configs and jaccard levels")
    configs.foreach { case (k, b) =>
      require(k >= 1 && b >= 1 && k % b == 0,
        s"bands must divide k: k=$k bands=$b")
    }
    require(jaccards.forall(j => j >= 0 && j <= 1), s"jaccards must be in [0,1]")
    import spark.implicits._
    val rows = for {
      (k, b) <- configs
      j <- jaccards
    } yield (k, b, k / b, j)
    rows.toDF("k", "bands", "rows_per_band", "jaccard")
      .withColumn(
        "p_candidate",
        roundPinned(lit(1.0) - pow(lit(1.0) - pow(col("jaccard"), col("rows_per_band")), col("bands")), 4))
      .withColumn(
        "s_curve_threshold",
        roundPinned(pow(lit(1.0) / col("bands"), lit(1.0) / col("rows_per_band")), 4))
  }

  // -------------------------------------------------------------- minhash

  /** MinHash permutation family: `h_i(x) = (a_i · base(x) + b_i) mod P`
    * with deterministic constants, so the expensive base hash is
    * computed once per shingle and the k permutations are two integer
    * ops each. The oracle SQL generator embeds the constants as
    * numeric literals, so any engine reproduces the signatures.
    *
    * The (a_i, b_i) MUST be mutually independent: an earlier
    * `a_i = (i+1)·c mod P, b_i = (i+1)·d mod P` family made every
    * permutation the scalar multiple `h_i = (i+1)·h_1 mod P` of one
    * function — all k slots then shared a single argmin whenever the
    * multiples didn't wrap past P, collapsing the k-slot estimator to
    * k ≈ 1 with huge variance (caught when a hasher change flipped
    * slot agreement of a Jaccard-0.6 pair from 11/16 to 3/16; both
    * are far from the 9.6 a sound estimator expects). Deriving each
    * constant from an independent md5 stream fixes the family;
    * `a_i · base < 2^30 · 2^28 = 2^58` still never overflows signed
    * 64-bit arithmetic in any engine.
    */
  val minhashP: Long = 1000000007L
  def minhashA(i: Int): Long =
    1L + graft.functions.Md5PrefixLongExpr.hashPrefix(s"minhash-a|$i", 15) % (minhashP - 1)
  def minhashB(i: Int): Long =
    graft.functions.Md5PrefixLongExpr.hashPrefix(s"minhash-b|$i", 15) % minhashP

  /** (id, sh: array<string>) — the word-`shingleN`-gram MULTISET as
    * one array per document, built by the per-row
    * [[TextAnalysis.shinglesOfTokens]] array lambda.
    *
    * Deliberately NOT the [[shinglesExploded]]+collect_list repack
    * (r22 A/B, settling VERDICT r21 #3). The lambda runs interpreted,
    * but every caller feeds this a CANDIDATE-BOUNDED frame (semi-join
    * on pair ids), so the interpreted cost is proportional to the
    * candidate set — while the repack paid a window sort plus a
    * post-union groupBy exchange per call regardless. Isolated
    * steady-state A/B (iters=4, drained host, identical session):
    * repack → lambda moved q_dedup_capped 4.63 → 2.35 s,
    * q_dedup_verified 2.54 → 1.94 s, q_fuzzy_join 1.03 → 1.13 s,
    * q_fuzzy_capped 1.19 → 1.21 s — net ≈ −2.8 s, matching the
    * r20→r21 drained-floor regression the repack caused. The
    * CORPUS-scale shingle path ([[signatures]]) keeps the codegen'd
    * exploded pipeline, where the relational form genuinely wins.
    * Element multiset and slice order are the r20 form's, oracle-green
    * under [[jaccard]]'s set semantics either way.
    */
  def shingleFrame(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(
        col(idCol),
        tokens(col(textCol)).as("__toks"),
        lower(col(textCol)).as("__lt"))
      .select(
        col(idCol),
        shinglesOfTokens(col("__toks"), col("__lt"), shingleN).as("sh"))

  /** (id, __sh) exploded word-shingle rows, built RELATIONALLY:
    * posexplode tokens → per-doc `lead(tok, j)` window → `concat_ws` —
    * codegen'd end to end. The array-lambda alternative
    * (`transform(sequence(...), i => concat_ws(slice(...)))`) runs
    * interpreted per element and measured as the dominant cost of the
    * whole MinHash pipeline (4.1s to explode 260k shingles at sf0.1 vs
    * hashing's 0.7s). Short docs (< `shingleN` tokens) contribute one
    * whole-text shingle, exactly like [[TextAnalysis.shingles]].
    *
    * The keyed pre-repartition (explicit count — AQE would coalesce
    * the bytes-small exchange) spreads token fanout across cores and
    * pre-satisfies both the window distribution here and the
    * downstream per-id signature aggregation: exploded rows never
    * shuffle.
    */
  def shinglesExploded(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(
        col(idCol),
        tokens(col(textCol)).as("__toks"),
        lower(col(textCol)).as("__lt"))
    val short = base.filter(size(col("__toks")) < shingleN)
      .select(col(idCol), col("__lt").as("__sh"))
    val w = Window.partitionBy(idCol).orderBy("__pos")
    val leadCols = (1 until shingleN).map(j => s"__l$j")
    val long =
      if (shingleN == 1)
        // degenerate 1-gram: every token is a shingle, no window needed
        base.filter(size(col("__toks")) >= 1)
          .select(col(idCol), explode(col("__toks")).as("__sh"))
      else base.filter(size(col("__toks")) >= shingleN)
        .select(col(idCol), posexplode(col("__toks")).as(Seq("__pos", "__tok")))
        .select(
          col(idCol) +: col("__tok") +:
            (1 until shingleN).map(j => lead(col("__tok"), j).over(w).as(s"__l$j")): _*)
        // rows whose last lead is null are truncated trailing windows
        .filter(col(leadCols.last).isNotNull)
        .select(
          col(idCol),
          concat_ws(" ", col("__tok") +: leadCols.map(col): _*).as("__sh"))
    long.union(short)
  }

  /** id → k-slot MinHash signature of the word-`shingleN`-gram set.
    *
    * Relational shape: explode shingles → base-hash each once →
    * groupBy(id) with k `min` aggregates → repack as an array. The
    * hash aggregate is plain codegen'd arithmetic (no array lambdas —
    * an earlier nested `transform`/`array_min` formulation spent
    * several seconds in codegen and risked per-reference re-evaluation
    * of the hash array), and partial aggregation combines map-side.
    * Built on the fully codegen'd [[shinglesExploded]]; the exploded
    * rows arrive pre-partitioned by id, so the groupBy shuffles
    * nothing.
    */
  def signatures(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 16,
      shingleN: Int = 3,
      baseHasher: Column => Column = fastBaseHash): DataFrame = {
    val exploded = shinglesExploded(df, textCol, idCol, shingleN)
      .select(col(idCol), baseHasher(col("__sh")).as("__b"))
    val mins = (0 until k).map { i =>
      min((col("__b") * lit(minhashA(i)) + lit(minhashB(i))) % lit(minhashP)).as(s"__m$i")
    }
    exploded
      .groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until k).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** Explode a signature frame to (id, band, band_hash): `bands` rows
    * per doc, each hashing `k / bands` consecutive signature slots.
    */
  def lshBands(sigDf: DataFrame, idCol: String, k: Int = 16, bands: Int = 8): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val r = k / bands
    sigDf
      .select(col(idCol), col("sig"), explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn(
        "band_hash",
        md5(concat_ws(",",
          transform(slice(col("sig"), col("band") * r + 1, lit(r)), _.cast("string")))))
      .drop("sig")
  }

  /** Buckets larger than `maxBucketSize` — the accounting frame for a
    * capped run: `(band, band_hash, group_size)` of everything
    * [[candidatePairs]] would drop. A production job counts/logs this
    * (it is a tiny aggregate) alongside the capped pairing. Shape and
    * complement guarantees: [[Audit]].
    */
  def oversizedBuckets(bandsDf: DataFrame, maxBucketSize: Int): DataFrame =
    bandsDf.groupBy("band", "band_hash")
      .agg(count(lit(1)).as(Audit.GroupSizeCol))
      .filter(col(Audit.GroupSizeCol) > maxBucketSize)

  /** Candidate pairs (a < b) sharing any LSH bucket. The join key is
    * (band, band_hash), so comparisons happen only within buckets.
    *
    * Skew guard: a bucket of B docs contributes B² intermediate pairs,
    * and dedup corpora by definition contain pathologically common
    * content. With `maxBucketSize` > 0, buckets above the cap are
    * removed (one map-side-combined count + a semi join — cost
    * proportional to the bands frame, never to B²) before pairing;
    * recall on ultra-common content is traded for a bounded shuffle.
    * Use [[oversizedBuckets]] to audit what a cap drops. 0 disables
    * the cap (the bit-exact oracle configuration).
    */
  def candidatePairs(
      bandsDf: DataFrame,
      idCol: String,
      maxBucketSize: Int = 0): DataFrame = {
    val bounded =
      if (maxBucketSize > 0) {
        val keep = bandsDf.groupBy("band", "band_hash")
          .agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") <= maxBucketSize)
          .select("band", "band_hash")
        bandsDf.join(keep, Seq("band", "band_hash"), "left_semi")
      } else bandsDf
    val x = bounded.select(col(idCol).as("a"), col("band"), col("band_hash"))
    val y = bounded.select(col(idCol).as("b"), col("band"), col("band_hash"))
    x.join(y, Seq("band", "band_hash"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()
  }

  /** Signature-estimated Jaccard: fraction of matching MinHash slots. */
  def estimatedJaccard(sigA: Column, sigB: Column, k: Int): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => x <=> y), b => b)).cast("double") / k

  /** Near-duplicate pairs with signature-estimated Jaccard ≥
    * `threshold` (threshold 0 returns every candidate pair). Shape:
    * signature projection → LSH bucket join → estimate on candidates.
    * The signature frame feeds four plan branches (two self-join sides
    * + two estimate re-joins); it persists via [[graft.CachedFrames]]
    * so the shingle hashing runs once per batch, shared across
    * queries, released by `CachedFrames.unpersistAll()`.
    */
  def nearDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 16,
      bands: Int = 8,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      baseHasher: Column => Column = fastBaseHash,
      maxBucketSize: Int = 0): DataFrame = {
    val sigDf = CachedFrames.persistOnce(
      signatures(df, textCol, idCol, k, shingleN, baseHasher))
    val cand = candidatePairs(lshBands(sigDf, idCol, k, bands), idCol, maxBucketSize)
    val withEst = cand
      .join(sigDf.select(col(idCol).as("a"), col("sig").as("sig_a")), Seq("a"))
      .join(sigDf.select(col(idCol).as("b"), col("sig").as("sig_b")), Seq("b"))
      .withColumn("est_jaccard", estimatedJaccard(col("sig_a"), col("sig_b"), k))
      .select(col("a"), col("b"), col("est_jaccard"))
    if (threshold > 0) withEst.filter(col("est_jaccard") >= threshold) else withEst
  }

  /** Drop every doc that has a near-dup with a smaller id (greedy
    * keep-first policy — deterministic without connected components;
    * transitive clusters keep their minimum only if it pairs with each
    * member, which LSH near-certainly yields at high thresholds).
    *
    * The pair frame persists through [[graft.CachedFrames]] so
    * sibling queries in the same batch (pairs, survivors, clusters)
    * materialize the candidate/estimate pipeline once — measured
    * 25.8s → 4.7s for the survivor pass on a 50k-doc stress corpus
    * when the pairs were already cached.
    */
  def dedupNear(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 16,
      bands: Int = 8,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      baseHasher: Column => Column = fastBaseHash,
      maxBucketSize: Int = 0): DataFrame = {
    val losers = CachedFrames.persistOnce(
        nearDupPairs(df, textCol, idCol, k, bands, shingleN, threshold, baseHasher, maxBucketSize))
      .select(col("b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware near-dup dedup: of every near-dup pair, drop the
    * member with the LOWER `priority` value (ties: the larger id
    * loses, so the policy is total and deterministic) — "keep the best
    * copy", the selection real curation wants when duplicates differ
    * in quality/length/recency, where [[dedupNear]] keeps whichever
    * copy happens to carry the smaller id. Same greedy one-pass
    * semantics and the same pair pipeline (pairs persist via
    * [[graft.CachedFrames]] and are shared with sibling queries).
    *
    * NULL policy (explicit, not incidental): a NULL priority is LOWEST
    * — a document of unknown quality loses to any document of known
    * quality, and a NULL-vs-NULL pair falls through to the id tie
    * rule. Encoded as its own two branches below so the policy reads
    * (and tests) as intent rather than as CASE-falls-through-on-null.
    *
    * Scale shape: identical to [[dedupNear]] plus two id-keyed joins
    * attaching the (id, priority) projection to the id-only pair frame
    * — the priorities join BEFORE any distinct, so the shuffle still
    * moves 2-column rows, never documents.
    */
  def dedupNearBy(
      df: DataFrame,
      textCol: String,
      idCol: String,
      priority: Column,
      k: Int = 16,
      bands: Int = 8,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      baseHasher: Column => Column = fastBaseHash,
      maxBucketSize: Int = 0): DataFrame = {
    // `priority` is an EXPRESSION over df's columns, not a required
    // column of df: callers pass the plain corpus frame (the same one
    // sibling dedupNear/nearDupPairs queries use), so the persistOnce
    // keys of the shared signature and pair pipelines match across the
    // whole query family. The earlier column-name form made callers
    // withColumn a priority onto the corpus first, which changed the
    // analyzed plan and silently forfeited every shared cache (the
    // composed pipeline re-shingled its corpus; measured ~1s at sf0.1).
    val pairs = CachedFrames.persistOnce(
      nearDupPairs(df, textCol, idCol, k, bands, shingleN, threshold, baseHasher, maxBucketSize))
    val pr = df.select(col(idCol), priority.as("__prio"))
    val withPr = pairs
      .join(pr.select(col(idCol).as("a"), col("__prio").as("__pa")), Seq("a"))
      .join(pr.select(col(idCol).as("b"), col("__prio").as("__pb")), Seq("b"))
    val loser = when(col("__pa").isNull && col("__pb").isNotNull, col("a"))
      .when(col("__pb").isNull && col("__pa").isNotNull, col("b"))
      .when(col("__pa") < col("__pb"), col("a"))
      .when(col("__pb") < col("__pa"), col("b"))
      .otherwise(greatest(col("a"), col("b")))
    val losers = withPr.select(loser.as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard between two shingle-set columns (distinct
    * semantics). Verification-step primitive — run on LSH candidates,
    * not all pairs.
    */
  def jaccard(shinglesA: Column, shinglesB: Column): Column = {
    val a = array_distinct(shinglesA)
    val b = array_distinct(shinglesB)
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")
  }

  /** Near-dup pairs re-verified with exact shingle Jaccard (the
    * production-quality path: LSH recall, exact precision).
    *
    * Shingle ARRAYS are materialized only for documents that actually
    * appear in a candidate pair (semi-join on the persisted candidate
    * frame): the verification cost scales with the candidate set —
    * already bucket-bounded and cappable — never with the corpus. The
    * full corpus is only ever touched by the codegen'd exploded
    * pipeline inside [[signatures]] (shared with [[nearDupPairs]] via
    * the cache registry).
    */
  def verifiedNearDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 16,
      bands: Int = 8,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      baseHasher: Column => Column = fastBaseHash,
      maxBucketSize: Int = 0): DataFrame = {
    val cand = CachedFrames.persistOnce(
      nearDupPairs(df, textCol, idCol, k, bands, shingleN, 0.0, baseHasher, maxBucketSize))
    val candIds = cand.select(col("a").as(idCol))
      .union(cand.select(col("b").as(idCol)))
      .distinct()
    val sh = shingleFrame(
      df.join(candIds, Seq(idCol), "left_semi"), textCol, idCol, shingleN)
    cand
      .join(sh.select(col(idCol).as("a"), col("sh").as("sh_a")), Seq("a"))
      .join(sh.select(col(idCol).as("b"), col("sh").as("sh_b")), Seq("b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Cross-table fuzzy text join (entity resolution / record linkage):
    * candidate pairs from LSH bucket collisions BETWEEN two corpora,
    * verified with exact shingle Jaccard — `(left_id, right_id,
    * jaccard ≥ threshold)`. Never all-pairs: comparisons happen only
    * inside shared buckets, with the same (k, bands) recall knobs as
    * [[nearDupPairs]] and the same per-side `maxBucketSize` cap (a
    * bucket with L left × R right rows yields L·R candidates, so both
    * sides cap independently). Shingle arrays materialize only for
    * docs that appear in a candidate pair.
    */
  def fuzzyTextJoin(
      left: DataFrame,
      leftText: String,
      leftId: String,
      right: DataFrame,
      rightText: String,
      rightId: String,
      k: Int = 16,
      bands: Int = 8,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      baseHasher: Column => Column = fastBaseHash,
      maxBucketSize: Int = 0): DataFrame = {
    def sideBands(df: DataFrame, textCol: String, idCol: String) = {
      // (id, band, band_hash) rows only — small; persisting lets a
      // capped and an uncapped run over the same corpora share the
      // shingle→signature→band pipeline (plan-keyed, cap applies after)
      val b = CachedFrames.persistOnce(
        lshBands(signatures(df, textCol, idCol, k, shingleN, baseHasher), idCol, k, bands))
      if (maxBucketSize > 0) {
        val keep = b.groupBy("band", "band_hash")
          .agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") <= maxBucketSize)
          .select("band", "band_hash")
        b.join(keep, Seq("band", "band_hash"), "left_semi")
      } else b
    }
    val bl = sideBands(left, leftText, leftId)
      .select(col(leftId).as("left_id"), col("band"), col("band_hash"))
    val br = sideBands(right, rightText, rightId)
      .select(col(rightId).as("right_id"), col("band"), col("band_hash"))
    val cand = CachedFrames.persistOnce(
      bl.join(br, Seq("band", "band_hash")).select("left_id", "right_id").distinct())
    val shL = shingleFrame(
      left.join(cand.select(col("left_id").as(leftId)).distinct(), Seq(leftId), "left_semi"),
      leftText, leftId, shingleN)
    val shR = shingleFrame(
      right.join(cand.select(col("right_id").as(rightId)).distinct(), Seq(rightId), "left_semi"),
      rightText, rightId, shingleN)
    cand
      .join(shL.select(col(leftId).as("left_id"), col("sh").as("sh_l")), Seq("left_id"))
      .join(shR.select(col(rightId).as("right_id"), col("sh").as("sh_r")), Seq("right_id"))
      .withColumn("jaccard", jaccard(col("sh_l"), col("sh_r")))
      .filter(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("jaccard"))
  }

  // ---------------------------------------------------------- incremental

  /** The exact-route counterpart of the X48 signature store: the
    * distinct content-fingerprint set of a corpus, the frame a crawl
    * pipeline persists so the NEXT increment can exact-screen without
    * re-reading history. One column, one distinct — at 100 TB the
    * store is orders of magnitude smaller than the corpus (one 16-byte
    * hash per distinct document).
    */
  def exactFingerprintStore(df: DataFrame, textCol: String): DataFrame =
    df.select(fingerprint(col(textCol)).as("fingerprint")).distinct()

  /** Exact incremental dedup, keep-old-drop-new: drop every new doc
    * whose content fingerprint already exists in the persisted store.
    * One fingerprint-keyed anti-join (hash shuffle on the 16-byte
    * key); history text is never touched. A real pipeline runs this
    * BEFORE [[nearDupPairsAgainst]] — exact copies are the cheap bulk
    * of crawl duplication and removing them first shrinks the
    * shingling the near-dup screen pays. The store for the next cycle
    * is `store ∪ exactFingerprintStore(survivors)` (a distinct union —
    * no helper needed).
    */
  def dedupExactAgainst(
      newDocs: DataFrame,
      textCol: String,
      store: DataFrame,
      fingerprintCol: String = "fingerprint"): DataFrame =
    newDocs.join(
      store.select(col(fingerprintCol).as("__store_fp")),
      // qualified against the increment frame: an unqualified col(textCol)
      // is ambiguous when the store was persisted with its text column too
      fingerprint(newDocs(textCol)) === col("__store_fp"),
      "left_anti")

  /** X48: near-dup pairs of a NEW document increment against a
    * PERSISTED signature store — `(old_id, new_id, est_jaccard)` —
    * without ever touching historical text.
    *
    * The store is the stable `(storeIdCol, sig)` projection produced
    * by [[signatures]] on a previous run (typically written to parquet
    * via `io.Sink` and read back; `sig` must be an `array<long>` of
    * the same `k` produced with the same `baseHasher`/`shingleN` —
    * signatures are only comparable within one hash configuration).
    * Band hashes for the store side derive from the stored arrays via
    * the pure projection [[lshBands]]: history is never re-tokenized,
    * re-shingled or re-hashed, so a continuous crawl pipeline pays
    * shingling cost proportional to the INCREMENT, not the corpus.
    * This is the store-shaped counterpart of [[fuzzyTextJoin]] (which
    * needs both corpora's text for exact-Jaccard verification);
    * similarity here is the signature-estimated Jaccard, the same
    * estimator [[nearDupPairs]] thresholds on.
    *
    * `maxBucketSize` caps each side's bucket independently (a bucket
    * with O old × N new rows yields O·N candidates), exactly like
    * [[fuzzyTextJoin]]. Candidate rows are id-only; signature arrays
    * join back onto the deduplicated candidate pairs.
    */
  def nearDupPairsAgainst(
      newDocs: DataFrame,
      textCol: String,
      idCol: String,
      store: DataFrame,
      storeIdCol: String,
      k: Int = 16,
      bands: Int = 8,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      baseHasher: Column => Column = fastBaseHash,
      maxBucketSize: Int = 0): DataFrame = {
    def capped(b: DataFrame): DataFrame =
      if (maxBucketSize > 0) {
        val keep = b.groupBy("band", "band_hash")
          .agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") <= maxBucketSize)
          .select("band", "band_hash")
        b.join(keep, Seq("band", "band_hash"), "left_semi")
      } else b
    val newSigs = CachedFrames.persistOnce(
      signatures(newDocs, textCol, idCol, k, shingleN, baseHasher))
    val storeSigs = store.select(col(storeIdCol).as("old_id"), col("sig"))
    val bOld = capped(lshBands(storeSigs, "old_id", k, bands))
      .select(col("old_id"), col("band"), col("band_hash"))
    val bNew = capped(lshBands(newSigs, idCol, k, bands))
      .select(col(idCol).as("new_id"), col("band"), col("band_hash"))
    val cand = bOld.join(bNew, Seq("band", "band_hash"))
      .select("old_id", "new_id")
      .distinct()
    cand
      .join(storeSigs.select(col("old_id"), col("sig").as("sig_a")), Seq("old_id"))
      .join(newSigs.select(col(idCol).as("new_id"), col("sig").as("sig_b")), Seq("new_id"))
      .withColumn("est_jaccard", estimatedJaccard(col("sig_a"), col("sig_b"), k))
      .filter(col("est_jaccard") >= threshold)
      .select(col("old_id"), col("new_id"), col("est_jaccard"))
  }

  /** Keep-old-drop-new incremental dedup: the increment's survivors —
    * every new doc whose signature-estimated Jaccard against ALL
    * stored documents stays below `threshold`. The store always wins a
    * match (its copies are already curated/trained-on); within-
    * increment duplicates are [[dedupNear]]'s job, composed by the
    * caller — the two concerns stay separate so a pipeline can order
    * them (dedup the increment first, then screen against history).
    */
  def dedupIncrement(
      newDocs: DataFrame,
      textCol: String,
      idCol: String,
      store: DataFrame,
      storeIdCol: String,
      k: Int = 16,
      bands: Int = 8,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      baseHasher: Column => Column = fastBaseHash,
      maxBucketSize: Int = 0): DataFrame = {
    val dropped = nearDupPairsAgainst(
        newDocs, textCol, idCol, store, storeIdCol,
        k, bands, shingleN, threshold, baseHasher, maxBucketSize)
      .select(col("new_id").as(idCol)).distinct()
    newDocs.join(dropped, Seq(idCol), "left_anti")
  }

  /** The signature store after absorbing an increment: old store ∪ the
    * surviving new docs' signatures — one call closes the crawl cycle
    * (`nextStore = updatedSignatureStore(store, …, newDocs, …)`; write
    * it back via `io.Sink` for the next run). The increment's
    * signature frame is the SAME persistOnce'd plan
    * [[nearDupPairsAgainst]] builds, so a pipeline that also asks for
    * the pair list or the survivor rows shingles the increment exactly
    * once; survivors are selected by semi-joining that frame rather
    * than re-signing a filtered corpus. The store only ever grows by
    * survivor rows, so its size tracks the deduplicated corpus.
    */
  def updatedSignatureStore(
      store: DataFrame,
      storeIdCol: String,
      newDocs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 16,
      bands: Int = 8,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      baseHasher: Column => Column = fastBaseHash,
      maxBucketSize: Int = 0): DataFrame = {
    val newSigs = CachedFrames.persistOnce(
      signatures(newDocs, textCol, idCol, k, shingleN, baseHasher))
    val dropped = nearDupPairsAgainst(
        newDocs, textCol, idCol, store, storeIdCol,
        k, bands, shingleN, threshold, baseHasher, maxBucketSize)
      .select(col("new_id").as(idCol)).distinct()
    val survivorSigs = newSigs.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol).as(storeIdCol), col("sig"))
    store.select(col(storeIdCol), col("sig")).union(survivorSigs)
  }

  /** Retention compaction for the X48 stores: keep only the entries
    * whose doc still exists in the live corpus (docs get retired by
    * curation, takedowns, or re-crawl churn, and a store entry for a
    * retired doc both wastes space and wrongly blocks re-admission).
    * One semi-join on the id key; works for the signature store, the
    * fingerprint store (`idCol = "fingerprint"` against a live
    * fingerprint frame), or any store keyed the same way. Run it
    * offline between cycles — the store shrinks to exactly the live
    * corpus size. Cycle-stamped age-based retention (TTL) is the
    * pipeline's concern: `pipeline.CrawlCycle` stamps admission
    * cycles and filters expired rows before screening.
    */
  def compactStore(store: DataFrame, live: DataFrame, idCol: String): DataFrame =
    store.join(live.select(idCol), Seq(idCol), "left_semi")

  // ------------------------------------------------------------- clusters

  /** Connected components over an undirected pair list: every vertex
    * gets the MINIMUM id reachable from it as its `component` label —
    * the exact cluster structure the greedy keep-min-id policy of
    * [[dedupNear]] approximates (greedy can drop a doc whose only
    * near-dup link is to another dropped doc; component labels never
    * mis-cluster).
    *
    * Min-label propagation: each iteration every vertex takes the min
    * of its own label and its neighbors' labels — one equi-join + one
    * map-side-combined min aggregation per iteration, converging in
    * (distance to the component's min vertex) iterations. Near-dup
    * clusters are dense and shallow, so 3–5 iterations is typical;
    * `maxIter` bounds adversarial chains (the remaining chain simply
    * stays split into ≥2 labels — still a valid refinement, never a
    * wrong merge).
    *
    * Scale notes: the iterated frames are `localCheckpoint`ed each
    * round, truncating both lineage and the analyzer plan (the
    * standard Spark iterative-algorithm pattern; a production job with
    * an HDFS checkpoint dir can swap in reliable `checkpoint`). The
    * per-iteration convergence `count` is a bounded aggregate action,
    * like the IVF trainer's Lloyd step. Edges persist once for the
    * whole loop and are released before returning.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "a",
      bCol: String = "b",
      maxIter: Int = 25): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .persist()
    try {
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("component", col("id"))
        .localCheckpoint()
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        val nbrMin = edges
          .join(labels.select(col("id").as("dst"), col("component").as("__nl")), Seq("dst"))
          .groupBy(col("src").as("id"))
          .agg(min(col("__nl")).as("__nbr"))
        val next = labels
          .join(nbrMin, Seq("id"), "left")
          .select(
            col("id"),
            least(col("component"), coalesce(col("__nbr"), col("component")))
              .as("component"),
            (col("__nbr") < col("component")).as("__chg"))
          .localCheckpoint()
        converged = next.filter(col("__chg")).isEmpty
        labels = next.drop("__chg")
        i += 1
      }
      labels
    } finally edges.unpersist()
  }

  /** (id, component) cluster assignment for every doc that appears in
    * a near-dup pair at `threshold` — [[nearDupPairs]] piped through
    * [[connectedComponents]]. Docs with no near-dup simply don't
    * appear (their component is themselves).
    */
  def nearDupClusters(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 16,
      bands: Int = 8,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      baseHasher: Column => Column = fastBaseHash,
      maxBucketSize: Int = 0): DataFrame =
    connectedComponents(
      nearDupPairs(df, textCol, idCol, k, bands, shingleN, threshold, baseHasher, maxBucketSize)
        .select("a", "b"))
      .withColumnRenamed("id", idCol)

  // -------------------------------------------------------------- simhash

  /** SimHash fingerprint (`bits` ≤ 60 with the oracle hasher): token
    * hashes vote per bit position; bit j is 1 iff the +1/−1 vote sum is
    * positive. Explode → groupBy(id) keeps the shuffle per-doc via
    * partial aggregation.
    */
  def simhash(
      df: DataFrame,
      textCol: String,
      idCol: String,
      bits: Int = 60,
      hasher: Hasher = fastH64): DataFrame = {
    // pre-explode repartition: parallelize token hashing across cores
    // even from a single input split, and pre-satisfy the groupBy
    // distribution (see TextAnalysis.winnowingFingerprints)
    val tok = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(
        col(idCol),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
    val hashed = tok.withColumn("h", hasher(lit(0), col("tok")))
    val sums = (0 until bits).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"bit_$j")
    }
    val agg = hashed.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
    val fp = (0 until bits)
      .map(j => when(col(s"bit_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col(idCol), fp.as("simhash"))
  }

  /** Chunked band projection of a `simhash` column — the
    * pigeonhole-critical arithmetic shared by [[simhashNearDupPairs]]
    * and [[simhashIncrementPairs]], defined ONCE so the batch and
    * incremental screens can never drift apart. Pigeonhole recall
    * note: `bits` not divisible by `chunks` leaves the top
    * `bits − chunks·(bits/chunks)` bits unbanded, which is SAFE — a
    * pair differing only there matches every band — it just widens
    * those buckets.
    */
  private def simhashBands(
      df: DataFrame, keep: Seq[Column], bits: Int, chunks: Int): DataFrame = {
    val chunkBits = bits / chunks
    val mask = (1L << chunkBits) - 1
    df.select(keep :+ col("simhash") :+
        explode(sequence(lit(0), lit(chunks - 1))).as("chunk"): _*)
      .withColumn(
        "chunk_val",
        // functions.shiftright only takes a literal Int shift; the SQL
        // form accepts a column shift amount.
        call_function("shiftright", col("simhash"), col("chunk") * chunkBits)
          .bitwiseAND(lit(mask)))
  }

  /** SimHash near-dup candidates: band the fingerprint into
    * `chunks` bit-slices, bucket-join on any equal slice, then filter
    * by true Hamming distance ≤ `maxHamming`. Same never-all-pairs
    * shape as MinHash LSH. Recall is pigeonhole-EXACT only at
    * `maxHamming ≤ chunks − 1`; above that (a legitimate looser
    * candidate screen — DedupSpec pins one) pairs whose differing bits
    * spread across every chunk are missed by construction.
    */
  def simhashNearDupPairs(
      fpDf: DataFrame,
      idCol: String,
      bits: Int = 60,
      chunks: Int = 4,
      maxHamming: Int = 3): DataFrame = {
    val banded = simhashBands(fpDf, Seq(col(idCol)), bits, chunks)
    val x = banded.select(
      col(idCol).as("a"), col("simhash").as("fp_a"), col("chunk"), col("chunk_val"))
    val y = banded.select(
      col(idCol).as("b"), col("simhash").as("fp_b"), col("chunk"), col("chunk_val"))
    x.join(y, Seq("chunk", "chunk_val"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("fp_a"), col("fp_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** Keep-old-drop-new hamming screen of a NEW frame's fingerprints
    * against a STORED one — [[simhashNearDupPairs]]' incremental twin
    * (the [[dedupIncrement]] contract for the simhash/dHash/audio-
    * fingerprint family): both sides band into `chunks` equal bit
    * slices, candidates come from the banded equi-join (pigeonhole-
    * exact at `maxHamming ≤ chunks − 1` per 64/chunks-bit slices,
    * never all-pairs), and every new id with ANY store fingerprint
    * within `maxHamming` is reported once with its closest distance.
    * `extraKeys` are additional equi-join keys both sides must share —
    * e.g. the media `kind` column, so an image hash never screens an
    * audio hash that happens to land nearby in hamming space. The
    * store side needs only (`simhash`, extraKeys): store identity
    * stays private to the store, matching keep-old-drop-new (the old
    * copy wins; nothing about it changes).
    *
    * Scale shape: one exchange per side on (chunk, chunk_val,
    * extraKeys), distinct-reduced candidates, then a map-side-combined
    * min — increment-sized, store-scan-once, no quadratic blowup
    * outside genuinely colliding buckets (cap upstream via the
    * [[lshBands]] machinery if a degenerate hash floods a bucket).
    */
  def simhashIncrementPairs(
      newFp: DataFrame,
      storeFp: DataFrame,
      idCol: String,
      bits: Int = 60,
      chunks: Int = 4,
      maxHamming: Int = 3,
      extraKeys: Seq[String] = Nil): DataFrame = {
    // A dedup SCREEN must not lose recall silently: unlike the
    // candidates-only batch variant, this one enforces the pigeonhole
    // bound — a knob combination beyond it (e.g. --chunks 4 with the
    // default hamming 7) would quietly admit duplicates forever.
    require(maxHamming <= chunks - 1,
      s"pigeonhole-exact recall needs maxHamming ($maxHamming) <= chunks - 1 " +
        s"(${chunks - 1}); raise chunks or lower maxHamming")
    val keys = Seq("chunk", "chunk_val") ++ extraKeys
    val bNew = simhashBands(newFp, col(idCol) +: extraKeys.map(col), bits, chunks)
      .withColumnRenamed("simhash", "fp_new")
    val bOld = simhashBands(storeFp, extraKeys.map(col), bits, chunks)
      .withColumnRenamed("simhash", "fp_old")
    bNew.join(bOld, keys)
      .select(col(idCol), col("fp_new"), col("fp_old"))
      .distinct()
      .withColumn("hamming", bit_count(col("fp_new").bitwiseXOR(col("fp_old"))))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col(idCol))
      .agg(min(col("hamming")).cast("int").as("hamming"))
  }

  // ----------------------------------------------------------- span dedup

  /** (id, __pos, __gh): every `windowTokens`-token gram of every doc
    * with its 0-based start position and gram hash. Same relational
    * posexplode → per-doc `lead` window construction as
    * [[shinglesExploded]] (codegen'd, no interpreted array lambdas),
    * except the position survives — span accounting needs to know
    * WHERE each gram starts, not just that it exists. Docs shorter
    * than the window contribute no grams (they can't contain a
    * duplicated span of that length by definition — unlike shingling,
    * there is no whole-text fallback row here).
    */
  private def positionedGramHashes(
      df: DataFrame,
      textCol: String,
      idCol: String,
      windowTokens: Int,
      hasher: Column => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowTokens >= 2, s"windowTokens must be >= 2: $windowTokens")
    val w = Window.partitionBy(idCol).orderBy("__pos")
    val leadCols = (1 until windowTokens).map(j => s"__l$j")
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= windowTokens)
      .select(col(idCol), posexplode(col("__toks")).as(Seq("__pos", "__tok")))
      .select(
        col(idCol) +: col("__pos") +: col("__tok") +:
          (1 until windowTokens).map(j => lead(col("__tok"), j).over(w).as(s"__l$j")): _*)
      // rows whose last lead is null are truncated trailing windows
      .filter(col(leadCols.last).isNotNull)
      .select(
        col(idCol), col("__pos"),
        hasher(concat_ws(" ", col("__tok") +: leadCols.map(col): _*)).as("__gh"))
  }

  /** Gram hashes that occur in at least `minDocs` DISTINCT documents —
    * the duplicated-gram set the span ops anti/semi-join against.
    * Per-doc distinct first (exploded rows are already partitioned by
    * id, so the distinct adds no exchange), then one map-side-combined
    * count by hash.
    */
  private def duplicatedGramHashes(grams: DataFrame, idCol: String, minDocs: Long): DataFrame =
    grams.select(col(idCol), col("__gh")).distinct()
      .groupBy("__gh").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select("__gh")

  /** Exact duplicated-SPAN accounting (the token-window form of the
    * suffix-array substring dedup in Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): a position is
    * "duplicated" when some `windowTokens`-token gram covering it also
    * appears in ≥ `minDocs` documents. Document-level dedup (X1–X6)
    * misses this entirely — two long docs sharing one 50-token
    * boilerplate block are nowhere near Jaccard-similar, yet a model
    * still memorizes the block. Per doc, reports:
    *
    *  - `n_tokens` — whitespace token count,
    *  - `dup_grams` — duplicated-gram occurrences,
    *  - `covered_tokens` — EXACT size of the union of the duplicated
    *    occurrences' [pos, pos+w) intervals (overlapping grams are not
    *    double-counted: running-max-of-end interval union under a
    *    per-doc window, each row contributing only the part of its
    *    interval past the furthest end seen so far — sorted by start,
    *    `new = max(0, end − max(start, prev_max_end))` telescopes to
    *    the union length),
    *  - `dup_ratio` — covered/n, rounded to 4 decimals.
    *
    * Shuffle budget at corpus scale: the keyed pre-repartition feeding
    * the gram window, one map-side-combined aggregation by gram hash
    * (gram rows ≈ token count — the same linear volume MinHash
    * shingling already moves), and one re-shuffle by id of the
    * DUPLICATED occurrences only (typically a small fraction) for the
    * interval-union window. Never all-pairs, never a cross join; the
    * hash join against the duplicated-gram set is an equi-semi-join
    * that AQE broadcasts when the duplicated vocabulary is small.
    *
    * Hashing defaults to production xxhash64; the oracle query passes
    * the 60-bit md5 form (collisions mark a span duplicated in BOTH
    * engines identically, so parity holds regardless; at 60 bits the
    * false-mark probability is negligible anyway).
    */
  def spanDuplication(
      df: DataFrame,
      textCol: String,
      idCol: String,
      windowTokens: Int = 8,
      minDocs: Long = 2L,
      hasher: Column => Column = c => xxhash64(c)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minDocs >= 2L, s"minDocs must be >= 2: $minDocs")
    // the gram frame feeds BOTH the doc-frequency aggregation and the
    // occurrence side of the semi-join (and is plan-identical to the
    // strip variant's) — persist once instead of re-tokenizing and
    // re-windowing the corpus per consumer
    val grams = CachedFrames.persistOnce(
      positionedGramHashes(df, textCol, idCol, windowTokens, hasher))
    val occ = grams.join(
      duplicatedGramHashes(grams, idCol, minDocs), Seq("__gh"), "left_semi")
    val prevEnd = max(col("__end")).over(
      Window.partitionBy(idCol).orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, -1))
    val covered = occ
      .withColumn("__end", col("__pos") + lit(windowTokens))
      .withColumn(
        "__new",
        greatest(
          col("__end") - greatest(col("__pos"), coalesce(prevEnd, col("__pos"))),
          lit(0)))
      .groupBy(col(idCol))
      .agg(
        sum(col("__new")).cast("long").as("covered_tokens"),
        count(lit(1)).as("dup_grams"))
    df.select(col(idCol), size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .na.fill(0L, Seq("covered_tokens", "dup_grams"))
      .withColumn(
        "dup_ratio",
        roundPinned(col("covered_tokens").cast("double") / col("n_tokens"), 4))
  }

  /** Intra-document span SELF-repetition — the loop detector for
    * generated or template text: a position is "self-repeated" when
    * some `windowTokens`-gram covering it occurs ≥ `minOccurrences`
    * times WITHIN THE SAME document. The span-level sharpening of
    * X28's repetition ratios (which can't say WHERE the loop is or how
    * much of the doc it eats), and the intra-doc complement of
    * [[spanDuplication]]'s cross-doc test.
    *
    * Cheaper than the cross-doc form: the occurrence count is a window
    * over (id, gram) — the gram frame is already hash-partitioned by
    * id, which satisfies the (id, gram) clustering, so NO exchange and
    * NO corpus-wide gram aggregation exist anywhere in the plan; the
    * whole operator runs inside the per-doc partitioning, then the
    * same interval-union window as [[spanDuplication]] turns repeated
    * occurrences into exact covered-token counts.
    *
    * Output per doc: (id, n_tokens, rep_grams, covered_tokens,
    * rep_ratio).
    */
  def spanSelfRepetition(
      df: DataFrame,
      textCol: String,
      idCol: String,
      windowTokens: Int = 8,
      minOccurrences: Long = 2L,
      hasher: Column => Column = c => xxhash64(c)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minOccurrences >= 2L, s"minOccurrences must be >= 2: $minOccurrences")
    val grams = positionedGramHashes(df, textCol, idCol, windowTokens, hasher)
    val occ = grams
      .withColumn(
        "__occ",
        count(lit(1)).over(Window.partitionBy(col(idCol), col("__gh"))))
      .filter(col("__occ") >= minOccurrences)
    val prevEnd = max(col("__end")).over(
      Window.partitionBy(idCol).orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, -1))
    val covered = occ
      .withColumn("__end", col("__pos") + lit(windowTokens))
      .withColumn(
        "__new",
        greatest(
          col("__end") - greatest(col("__pos"), coalesce(prevEnd, col("__pos"))),
          lit(0)))
      .groupBy(col(idCol))
      .agg(
        sum(col("__new")).cast("long").as("covered_tokens"),
        count(lit(1)).as("rep_grams"))
    df.select(col(idCol), size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .na.fill(0L, Seq("covered_tokens", "rep_grams"))
      .withColumn(
        "rep_ratio",
        roundPinned(col("covered_tokens").cast("double") / col("n_tokens"), 4))
  }

  /** Remove the duplicated spans [[spanDuplication]] accounts for,
    * keeping every token NOT covered by any ≥`minDocs`-doc gram and
    * reassembling the remainder in original order. This is the
    * "deduplicate substrings, keep the document" alternative to
    * dropping whole near-dup docs — the right tool when duplication is
    * boilerplate embedded in otherwise-unique pages.
    *
    * Reassembly is the X82 order-preservation pattern: covered
    * positions explode from the duplicated occurrences (`sequence` —
    * w× fanout of the duplicated subset only, bounded by total token
    * count), surviving (pos, tok) rows group per doc, and
    * `array_sort` over (pos, tok) structs restores order before the
    * join — `collect_list` alone guarantees none. A doc whose every
    * token is covered comes back as the EMPTY string with
    * `kept_tokens = 0` (callers filter; dropping the row here would
    * silently change corpus membership).
    */
  def stripDuplicatedSpans(
      df: DataFrame,
      textCol: String,
      idCol: String,
      windowTokens: Int = 8,
      minDocs: Long = 2L,
      hasher: Column => Column = c => xxhash64(c)): DataFrame = {
    require(minDocs >= 2L, s"minDocs must be >= 2: $minDocs")
    // same shared-plan persist as spanDuplication (one gram build
    // serves both ops when they run over the same corpus)
    val grams = CachedFrames.persistOnce(
      positionedGramHashes(df, textCol, idCol, windowTokens, hasher))
    val occ = grams.join(
      duplicatedGramHashes(grams, idCol, minDocs), Seq("__gh"), "left_semi")
    val coveredPos = occ
      .select(
        col(idCol),
        explode(sequence(col("__pos"), col("__pos") + lit(windowTokens - 1)))
          .as("__pos"))
      .distinct()
    val kept = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("__pos", "__tok")))
      .join(coveredPos, Seq(idCol, "__pos"), "left_anti")
    val rebuilt = kept
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("kept_tokens"),
        concat_ws(
          " ",
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__tok")))),
            s => s.getField("__tok"))).as("clean_text"))
    df.select(col(idCol), size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .na.fill(0L, Seq("kept_tokens"))
      .na.fill("", Seq("clean_text"))
  }
}
