package graft.pipeline

import graft.CachedFrames
import graft.ops.{Curation, Curriculum, Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The full training-corpus build DAG — every stage an
  * already-verified op, chained lazily into ONE plan and wired as
  * `--pipeline build-corpus` (the X50 RunAll pattern; cf. the
  * reference's run-everything driver `/root/reference/README.md`):
  *
  *   documents
  *     → near-dup dedup (bucket-capped LSH, X47 keep-best by BPE
  *       token count — the production shape, never all-pairs)
  *     → quality gate (token/alpha/length predicate)
  *     → decontamination against the held-out bench slice
  *       (≥ `minShared` shared character shingles → removed)
  *     → source-weighted mixing (token budget, seeded-hash order)
  *     → sequence packing (BPE tokens → fixed-size packs, id order)
  *     → deterministic train/val/test split (hash bucket-of-10k —
  *       retry-stable, partitioning-independent)
  *     → curriculum phases over the TRAIN slice only (log-histogram
  *       percentile, no corpus sort; val/test carry NULL phases).
  *
  * Scale shape: one pass over the corpus feeds dedup + stats; the
  * only exchanges are the LSH bucket join (capped), the
  * decontamination gram join (bench side small), and the two
  * `RunningTotals` range shuffles: mix by (source, hash, id), pack by
  * id. Split is a pure projection; curriculum adds one broadcast join
  * against a bounded-histogram CDF, whose histogram side re-reads
  * the packed frame (nothing past the quality gate is persisted).
  * Everything downstream of the quality gate reuses the
  * persistOnce'd dedup+quality prefix shared with the standalone
  * curation queries.
  *
  * Determinism: every stage is a pure function of (row, seed) — no
  * rand(), no timestamps — so a re-run, a task retry, or a different
  * partitioning reproduces the corpus bit-exactly (spec-pinned).
  */
object CorpusBuild {

  /** Defaults mirror the oracle-checked q_pipeline_curation_best
    * configuration so the CLI, the spec, and the oracle row all
    * exercise the same composition.
    */
  case class Config(
      input: String = "",
      output: String = "",
      benchCut: Long = 25L,
      k: Int = 16,
      bands: Int = 8,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      maxBucketSize: Int = 2,
      mix: Seq[(String, Double)] =
        Seq("src0" -> 0.5, "src1" -> 0.25, "src7" -> 0.25),
      tokenBudget: Long = 2000L,
      mixSeed: Long = 13L,
      packTokens: Long = 512L,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      splitSeed: Long = 42L,
      phases: Int = 4)

  /** The whole DAG as one lazy frame: input documents in, final
    * packed/split/phased corpus out. Hashers are injectable like
    * everywhere else in the repo — xxhash64-fast for production,
    * md5-derived for oracle replay.
    */
  def corpusFrame(
      docs: DataFrame,
      cfg: Config,
      baseHasher: Column => Column = TextAnalysis.fastBaseHash,
      hasher: (Column, Column) => Column = TextAnalysis.fastH64): DataFrame = {
    val corpus = docs.filter(col("doc_id") >= cfg.benchCut)
    val bench = docs.filter(col("doc_id") < cfg.benchCut)
    val deduped = Dedup.dedupNearBy(corpus, "text", "doc_id",
      TextAnalysis.bpeTokenCount(col("text")),
      k = cfg.k, bands = cfg.bands, shingleN = cfg.shingleN,
      threshold = cfg.threshold, baseHasher = baseHasher,
      maxBucketSize = cfg.maxBucketSize)
    val statCols = TextAnalysis.stats(col("text")).map { case (n, c) => c.as(n) }
    val stats = deduped.select(
      col("doc_id") +: col("source") +: col("text") +: statCols: _*)
    // same persistOnce contract as the standalone curation queries:
    // the dedup+quality prefix feeds the decontamination gram side AND
    // the anti-join left, and materializes exactly once (plan-keyed)
    val quality = CachedFrames.persistOnce(
      stats.filter(TextAnalysis.qualityPredicate(
        col("n_tokens"), col("alpha_ratio"), col("avg_token_len"))))
    val contaminated = Curation.decontaminate(quality, bench, "text", "doc_id",
        shingleN = cfg.shingleN, minShared = 2L)
      .select("doc_id").distinct()
    // mix and pack are RunningTotals plans: column pruning reaches
    // through them, so their two range shuffles move only the columns
    // the select below keeps, never `text`
    val clean = quality.join(contaminated, Seq("doc_id"), "left_anti")
    val mixed = Curation.mixSources(clean, "doc_id", "source", "n_tokens",
      cfg.mix, tokenBudget = cfg.tokenBudget, seed = cfg.mixSeed, hasher = hasher)
    val packed = Curation.packSequences(mixed, "doc_id", "bpe_tokens", cfg.packTokens)
      .select("doc_id", "source", "n_tokens", "bpe_tokens",
        "mix_tokens_before", "pack_id", "pack_offset")
    val split = Curation.assignSplit(packed, "doc_id", cfg.splits,
      seed = cfg.splitSeed, hasher = hasher)
    // curriculum is a training-order concern: phases are assigned over
    // the train slice's OWN difficulty distribution (a val/test row
    // must not shift a train percentile); val/test rows carry NULLs.
    // The GATED form keeps this one broadcast CDF join — the
    // phaseAssign(train) ⋈ corpus composition would re-shuffle the
    // whole corpus on doc_id just to carry two columns back.
    // (n_tokens is never NULL here — quality-gated text — so the
    // gate-row drop contract of phaseAssignGated cannot lose rows.)
    Curriculum.phaseAssignGated(split, col("n_tokens"),
        col("split") === "train", phases = cfg.phases)
      .select("doc_id", "source", "n_tokens", "bpe_tokens", "mix_tokens_before",
        "pack_id", "pack_offset", "bucket", "split", "pctl_r", "phase")
  }

  /** CLI entry: build the corpus and publish it partitioned by
    * `split`, so a trainer reads `output/split=train` without touching
    * val/test bytes (partition pruning, not a filter scan). Returns
    * the read-back frame — the write is the artifact.
    */
  def run(
      spark: SparkSession,
      cfg: Config,
      baseHasher: Column => Column = TextAnalysis.fastBaseHash,
      hasher: (Column, Column) => Column = TextAnalysis.fastH64): DataFrame = {
    val docs = spark.read.parquet(cfg.input)
    corpusFrame(docs, cfg, baseHasher, hasher)
      .write.mode("overwrite").partitionBy("split").parquet(cfg.output)
    spark.read.parquet(cfg.output)
  }
}
