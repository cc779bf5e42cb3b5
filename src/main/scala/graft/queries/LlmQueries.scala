package graft.queries

import graft.Tables
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.roundPinned

/** Oracle-checked queries for the LLM-data-pipeline operators (dedup,
  * similarity search, text analysis, multimodal) over the driver's
  * `documents` / `embeddings` tables.
  *
  * Every query is deterministic and reproduced bit-for-bit by the
  * DuckDB oracle: hashing goes through the cross-engine md5-based
  * [[TextAnalysis.baseHash]]/[[TextAnalysis.h64]], floating point
  * through explicit left-to-right double folds, and ordering through
  * unique sort keys.
  */
object LlmQueries {

  private val simK = 5
  private val simQueryIds = 100 // query set = vec_id < 100
  private val embeddingDim = 64
  private val annTables = 8
  private val annBits = 4
  private val negK = 4
  /** ln 2 as a DuckDB DOUBLE literal (scientific notation parses as
    * DOUBLE directly — a bare decimal parses DECIMAL-first and rounds
    * differently; see MiningQueries.sqlDouble). Single source:
    * [[RetrievalEval.Ln2]]. */
  private val ln2Sql: String = {
    val r = RetrievalEval.Ln2.toString
    if (r.contains("E") || r.contains("e")) r else r + "e0"
  }
  private val ivfCentroids = 16
  private val ivfProbe = 4
  private val pqM = 8 // PQ subspaces over embeddingDim=64 → dsub=8
  private val pqKsub = 16 // codebook entries per subspace
  private val semClusters = 8
  private val semSubsetIds = 500 // SemDeDup check set = vec_id < 500
  private val semThreshold = 0.4
  private val semClusterCap = 60 // binds: mean cluster size is 500/8 ≈ 62
  private val pipelineBenchCut = 25 // same bench split as q_decontaminate
  // X48 history/increment boundary: doc_id < split is the persisted
  // corpus (signature store), >= split the new crawl — 300 puts seeded
  // near-dup pairs on both sides of the cut and across it. The exact
  // screen's increment additionally re-crawls docs < recrawlIds under
  // ids shifted by recrawlOffset (the corpus has no byte-identical
  // docs, so re-keyed history is how exact duplication actually
  // enters an increment).
  private val incrementalSplit = 300L
  private val recrawlIds = 20L
  private val recrawlOffset = 10000L

  /** History's signature store, shared by every incremental query in
    * a batch via the plan-keyed persist registry: the store frame is
    * referenced twice per query (band side + sig re-join) by four
    * queries — without this, history shingles eight times per Verify
    * pass. In production the store is a parquet read and whether to
    * cache it is the caller's capacity decision; here it is computed
    * inline, so the batch shares one materialization. */
  private def incrementalSigStore(d: DataFrame): DataFrame =
    graft.CachedFrames.persistOnce(Dedup.signatures(
      d.filter(col("doc_id") < incrementalSplit), "text", "doc_id",
      k = 16, shingleN = 3, baseHasher = oracleBaseHash))

  // Oracle queries pass the md5-derived hashers EXPLICITLY: the ops
  // default to xxhash64 for production throughput, and cross-engine
  // bit-reproducibility is a property only the oracle layer needs.
  private val oracleBaseHash = TextAnalysis.baseHash _
  private val oracleH64: Dedup.Hasher = TextAnalysis.h64

  /** documents ∪ a deterministic "re-hosted" twin of every doc
    * (id + 100000; uppercased, punctuation appended, extra
    * whitespace) — the input the normalized-dedup oracles pair back
    * together. Mirrored literally in `normalizedCorpusCte`.
    */
  private def withMutatedTwins(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    d.unionByName(d.select(
      (col("doc_id") + 100000L).as("doc_id"),
      concat(upper(col("text")), lit(" !!!  ")).as("text")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = scala.collection.immutable.ListMap(

    // ---- text analysis -------------------------------------------------
    "q_text_stats" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val statCols = TextAnalysis.stats(col("text")).map { case (n, c) => c.as(n) }
      d.select((col("doc_id") +: statCols): _*)
        .withColumn(
          "is_quality",
          TextAnalysis.qualityPredicate(
            col("n_tokens"), col("alpha_ratio"), col("avg_token_len")))
        .orderBy("doc_id")
    }),

    "q_lang_id" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val scoreCols = TextAnalysis.langScores(col("text")).map { case (n, c) => c.as(n) }
      d.select((col("doc_id") +: scoreCols) :+ TextAnalysis.langId(col("text")).as("lang_pred"): _*)
        .orderBy("doc_id")
    }),

    // X108 filter evaluation: ROC-AUC of the unigram fluency score
    // against the language-ID labels — the closes-the-loop audit
    // (train → score → gate → EVALUATE). Distinct-score grouped AUC,
    // order-exact ½-multiples arithmetic, replayable in DuckDB.
    "q_filter_auc" -> ((s, dir) =>
      Curation.binaryEval(evalPair(s, dir), col("avg_logprob"), col("is_en"))),

    // X108's threshold sweep: what each "keep score ≥ t" cut costs in
    // precision/recall over the same score/label pair — the table the
    // operator reads to place the gate.
    "q_pr_curve" -> ((s, dir) =>
      Curation.prCurve(evalPair(s, dir), col("avg_logprob"), col("is_en"))
        .orderBy(col("threshold").desc)),

    // X112: the same AUC audit SLICED by ingestion source — a score
    // can rank well globally while failing one stratum outright;
    // the per-group table finds it before the filter ships. The
    // cumulative window is partitioned by source (parallel), unlike
    // the global statistic's one-partition window.
    "q_sliced_auc" -> ((s, dir) =>
      Curation.binaryEvalBy(
          evalPair(s, dir), Seq("source"), col("avg_logprob"), col("is_en"))
        .orderBy("source")),

    // X109 calibration: the reliability table over the en-stopword
    // FRACTION read as P(en) vs the lang-ID label — completes the
    // evaluation triad (AUC ranks, PR curve prices the cut, this asks
    // whether the score is a probability). The fraction is NOT a
    // calibrated probability, and the table shows exactly how it is
    // over/under-confident per bin — the audit's point.
    "q_calibration" -> ((s, dir) =>
      Curation.calibration(calibrationPair(s, dir), col("p_en"), col("is_en"), nBins = 10)
        .orderBy("bin")),

    // X109's 1-row summary: ECE (bin-weighted mean gap, order-exact
    // integer arithmetic) and MCE (worst bin) of the same pair.
    "q_calibration_error" -> ((s, dir) =>
      Curation.calibrationError(calibrationPair(s, dir), col("p_en"), col("is_en"), nBins = 10)),

    // Per-source corpus-health rollup: the dashboard row a training
    // pipeline publishes per ingestion source — doc/token volume,
    // mean alpha ratio, quality-gate and English-ID pass counts —
    // composing X12/X13/X14 per-doc signals into one grouped pass.
    "q_corpus_health" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val statCols = TextAnalysis.stats(col("text")).map { case (n, c) => c.as(n) }
      val perDoc = d.select(col("doc_id") +: col("source") +: col("text") +: statCols: _*)
        .withColumn("is_quality",
          TextAnalysis.qualityPredicate(
            col("n_tokens"), col("alpha_ratio"), col("avg_token_len")))
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      perDoc.groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          roundPinned(avg("alpha_ratio"), 4).as("avg_alpha_ratio"),
          count(when(col("is_quality"), 1)).as("n_quality"),
          count(when(col("lang_pred") === "en", 1)).as("n_en"))
        .orderBy("source")
    }),

    // X110: Jensen–Shannon divergence of one source's token
    // distribution vs the rest of the training mix — the
    // distribution-shift audit behind mixing decisions. One row;
    // order-exact via per-term 1e-9 fixed-point quantization.
    "q_js_divergence" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TfIdf.tokenJsDivergence(
        d.filter(col("source") === "src0"),
        d.filter(col("source") =!= "src0"),
        "text", "doc_id")
    }),

    // X110's drill-down: the 25 terms contributing most to the same
    // divergence — WHAT shifted, not just how much.
    "q_diverging_terms" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TfIdf.divergingTerms(
          d.filter(col("source") === "src0"),
          d.filter(col("source") =!= "src0"),
          "text", "doc_id", k = 25)
        .orderBy(col("contrib_bits").desc, col("term"))
    }),

    // Gopher-style repetition signals (top/dup gram fractions).
    "q_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionProfile(Tables.documents(s, dir), "text", "doc_id")
        .orderBy("doc_id")
    }),

    // Winnowing fingerprints, exploded to (doc_id, fp) rows.
    "q_fingerprint" -> ((s, dir) => {
      TextAnalysis.winnowingFingerprints(
          Tables.documents(s, dir), "doc_id", "text", k = 8, w = 4,
          hasher = oracleBaseHash)
        .orderBy("doc_id", "fp")
    }),

    // ---- dedup ---------------------------------------------------------
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exactDupGroups(Tables.documents(s, dir), "text", "doc_id")
        .orderBy("survivor_id")
    }),

    // Normalized ("fuzzy exact") dedup: case/punctuation/whitespace
    // variants collapse to one fingerprint. The corpus has no such
    // variants, so each doc gets a deterministic mutated twin
    // (uppercased + punctuation + trailing whitespace, id + 100000)
    // built identically in both engines; normalization must pair every
    // twin with its original — 500 groups of exactly 2.
    "q_dedup_normalized" -> ((s, dir) => {
      Dedup.normalizedDupGroups(withMutatedTwins(s, dir), "text", "doc_id")
        .orderBy("survivor_id")
    }),

    "q_dedup_normalized_survivors" -> ((s, dir) => {
      Dedup.dedupExactNormalized(withMutatedTwins(s, dir), "text", "doc_id")
        .select("doc_id")
        .orderBy("doc_id")
    }),

    "q_dedup_near" -> ((s, dir) => {
      Dedup.nearDupPairs(
          Tables.documents(s, dir), "text", "doc_id",
          k = 16, bands = 8, shingleN = 3, threshold = 0.0,
          baseHasher = oracleBaseHash)
        .orderBy("a", "b")
    }),

    "q_dedup_survivors" -> ((s, dir) => {
      Dedup.dedupNear(
          Tables.documents(s, dir), "text", "doc_id",
          k = 16, bands = 8, shingleN = 3, threshold = 0.5,
          baseHasher = oracleBaseHash)
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // Incremental dedup (X48): docs below the split are the already-
    // curated corpus, represented ONLY by their persisted MinHash
    // signatures (the store — history text never re-shingles); docs at
    // or above it are the new crawl increment screened against it.
    "q_dedup_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val store = incrementalSigStore(d)
      Dedup.nearDupPairsAgainst(
          d.filter(col("doc_id") >= incrementalSplit), "text", "doc_id",
          store, "doc_id",
          k = 16, bands = 8, shingleN = 3, threshold = 0.5,
          baseHasher = oracleBaseHash)
        .orderBy("old_id", "new_id")
    }),

    // X48 with the per-side bucket cap engaged (cap=2): history's
    // exact-copy trios occupy size-3 store buckets, so their cross
    // pairs must vanish while small-bucket pairs survive — the cap
    // behavior itself oracle-verified, as for q_dedup_capped /
    // q_fuzzy_capped / q_semantic_capped.
    "q_dedup_incremental_capped" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val store = incrementalSigStore(d)
      Dedup.nearDupPairsAgainst(
          d.filter(col("doc_id") >= incrementalSplit), "text", "doc_id",
          store, "doc_id",
          k = 16, bands = 8, shingleN = 3, threshold = 0.5,
          baseHasher = oracleBaseHash, maxBucketSize = 2)
        .orderBy("old_id", "new_id")
    }),

    // X48 exact route: the increment screened against history's
    // persisted content-fingerprint store — one anti-join on the
    // 16-byte hash, run before the near-dup screen in a real cycle.
    // The fixture corpus has no byte-identical docs, so the increment
    // models how exact dups actually arise: a re-crawl of early
    // history under fresh ids (re-keyed union) — the screen must drop
    // exactly those 20 re-crawls and keep all genuinely new docs.
    "q_dedup_incremental_exact" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val store = Dedup.exactFingerprintStore(
        d.filter(col("doc_id") < incrementalSplit), "text")
      val recrawl = d.filter(col("doc_id") < recrawlIds)
        .select((col("doc_id") + recrawlOffset).as("doc_id"), col("text"))
      val increment = d.filter(col("doc_id") >= incrementalSplit)
        .select("doc_id", "text")
        .union(recrawl)
      Dedup.dedupExactAgainst(increment, "text", store)
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // The crawl-cycle composition: one lazy plan running the screens a
    // continuous ingestion pipeline applies to each new increment —
    // exact fingerprint screen (vs history's md5 store) → near-dup
    // screen (vs history's signature store) → quality gate — with one
    // DuckDB oracle replaying all three. Screen order doesn't change
    // the survivor set (each screen drops an independent subset), so
    // the oracle screens the full increment; the engine runs them in
    // the production order (exact first: it is the cheap bulk).
    "q_pipeline_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val history = d.filter(col("doc_id") < incrementalSplit)
      // same re-crawl augmentation as q_dedup_incremental_exact, so
      // every stage of the composition demonstrably drops rows
      val increment = d.filter(col("doc_id") >= incrementalSplit)
        .select("doc_id", "source", "text")
        .union(d.filter(col("doc_id") < recrawlIds)
          .select((col("doc_id") + recrawlOffset).as("doc_id"),
            col("source"), col("text")))
      val exactClean = Dedup.dedupExactAgainst(
        increment, "text", Dedup.exactFingerprintStore(history, "text"))
      val sigStore = incrementalSigStore(d)
      val nearClean = Dedup.dedupIncrement(
        exactClean, "text", "doc_id", sigStore, "doc_id",
        k = 16, bands = 8, shingleN = 3, threshold = 0.5,
        baseHasher = oracleBaseHash)
      val statCols = TextAnalysis.stats(col("text")).map { case (n, c) => c.as(n) }
      nearClean.select(col("doc_id") +: col("source") +: statCols: _*)
        .filter(TextAnalysis.qualityPredicate(
          col("n_tokens"), col("alpha_ratio"), col("avg_token_len")))
        .select("doc_id", "source", "n_tokens", "bpe_tokens")
        .orderBy("doc_id")
    }),

    // X48 keep-set: the increment rows that clear the screen — the
    // keep-old-drop-new policy surfaced as its own oracle row, the
    // same pairs/survivors convention as the X4 family.
    "q_dedup_incremental_survivors" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val store = incrementalSigStore(d)
      Dedup.dedupIncrement(
          d.filter(col("doc_id") >= incrementalSplit), "text", "doc_id",
          store, "doc_id",
          k = 16, bands = 8, shingleN = 3, threshold = 0.5,
          baseHasher = oracleBaseHash)
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // Quality-aware dedup (X47): of each near-dup pair, the LOWER-
    // priority copy drops (priority = BPE token count here — keep the
    // longer document; ties lose the larger id). Contrast with
    // q_dedup_survivors' keep-min-id policy over the same pair set.
    "q_dedup_best" -> ((s, dir) => {
      // priority is an expression over the PLAIN documents frame, so
      // the pair pipeline genuinely shares its persistOnce entry with
      // q_dedup_near/q_dedup_survivors (same corpus plan, same params)
      Dedup.dedupNearBy(Tables.documents(s, dir), "text", "doc_id",
          TextAnalysis.bpeTokenCount(col("text")),
          k = 16, bands = 8, shingleN = 3, threshold = 0.5,
          baseHasher = oracleBaseHash)
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // Cross-table fuzzy join: even-id docs matched against odd-id
    // docs via LSH buckets + exact-Jaccard verification (entity
    // resolution between two corpora).
    "q_fuzzy_join" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.fuzzyTextJoin(
          docs.filter(col("doc_id") % 2 === 0), "text", "doc_id",
          docs.filter(col("doc_id") % 2 === 1), "text", "doc_id",
          k = 16, bands = 8, shingleN = 3, threshold = 0.4,
          baseHasher = oracleBaseHash)
        .select(col("left_id"), col("right_id"),
          roundPinned(col("jaccard"), 4).as("jaccard_r"))
        .orderBy("left_id", "right_id")
    }),

    // The fuzzy join's PER-SIDE bucket cap under the oracle (each
    // corpus independently drops its over-cap buckets before the
    // cross-corpus collision join). At sf0.01 each side's buckets are
    // singletons so the cap=1 prune is a no-op on the RESULT — the
    // point is that both engines execute the same prune and still
    // agree; the binding-cap case is covered by q_dedup_capped.
    "q_fuzzy_capped" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.fuzzyTextJoin(
          docs.filter(col("doc_id") % 2 === 0), "text", "doc_id",
          docs.filter(col("doc_id") % 2 === 1), "text", "doc_id",
          k = 16, bands = 8, shingleN = 3, threshold = 0.4,
          baseHasher = oracleBaseHash, maxBucketSize = 1)
        .select(col("left_id"), col("right_id"),
          roundPinned(col("jaccard"), 4).as("jaccard_r"))
        .orderBy("left_id", "right_id")
    }),

    // Connected-components cluster labels over the 0.5-threshold
    // near-dup graph: every doc in a near-dup pair gets the minimum
    // reachable doc_id as its cluster id (exact transitive closure,
    // vs the greedy keep-min-id survivor policy).
    "q_dedup_clusters" -> ((s, dir) => {
      Dedup.nearDupClusters(
          Tables.documents(s, dir), "text", "doc_id",
          k = 16, bands = 8, shingleN = 3, threshold = 0.5,
          baseHasher = oracleBaseHash)
        .orderBy("doc_id")
    }),

    "q_dedup_verified" -> ((s, dir) => {
      Dedup.verifiedNearDupPairs(
          Tables.documents(s, dir), "text", "doc_id",
          k = 16, bands = 8, shingleN = 3, threshold = 0.4,
          baseHasher = oracleBaseHash)
        .select(col("a"), col("b"), roundPinned(col("jaccard"), 4).as("jaccard_r"))
        .orderBy("a", "b")
    }),

    // The bucket-size skew cap — the guard that keeps LSH dedup
    // bounded on pathologically common content — exercised under the
    // oracle: buckets with more than 2 docs drop out BEFORE pairing on
    // both engines, so the verified pair set shrinks identically.
    "q_dedup_capped" -> ((s, dir) => {
      Dedup.verifiedNearDupPairs(
          Tables.documents(s, dir), "text", "doc_id",
          k = 16, bands = 8, shingleN = 3, threshold = 0.4,
          baseHasher = oracleBaseHash, maxBucketSize = 2)
        .select(col("a"), col("b"), roundPinned(col("jaccard"), 4).as("jaccard_r"))
        .orderBy("a", "b")
    }),

    // Embedding-cosine near-dup pairs, exact variant on a bounded id
    // subset (sf-independent subset keeps the all-pairs check bounded
    // at any scale). The ANN-bucketed scale variant is q_ann_neardup.
    "q_embedding_neardup" -> ((s, dir) => {
      Similarity.exactNearDupPairs(
          Tables.embeddings(s, dir).filter(col("vec_id") < 500),
          "vec_id", "embedding", threshold = 0.4)
        .select(col("a"), col("b"), roundPinned(col("sim"), 4).as("sim_r"))
        .orderBy("a", "b")
    }),

    // The 100 TB embedding-dedup route under the oracle: LSH-bucketed
    // candidate pairs + exact cosine re-check (annNearDupPairs), same
    // subset and threshold as q_embedding_neardup so the result is the
    // recall-limited subset of that exact pair set. DuckDB replays
    // hyperplane buckets → same-bucket (a < b) candidates → exact
    // cosine. The salt sub-key is NOT replayed: the left side carries
    // one salt and the right side is replicated across all of them, so
    // exactly one salt value matches per same-bucket pair — the salt
    // multiplies shuffle-key cardinality without changing the candidate
    // SET (pinned in SimilaritySpec).
    "q_ann_neardup" -> ((s, dir) => {
      Similarity.annNearDupPairs(
          Tables.embeddings(s, dir).filter(col("vec_id") < semSubsetIds),
          "vec_id", "embedding", threshold = 0.4,
          dim = embeddingDim, tables = annTables, bits = annBits)
        .select(col("a"), col("b"), roundPinned(col("sim"), 4).as("sim_r"))
        .orderBy("a", "b")
    }),

    // Keep-set composition for the ANN route (dedupByEmbedding):
    // pairs → distinct losers (larger id) → left_anti — the embedding
    // analogue of q_dedup_survivors, closing the dedup story at the
    // query surface rather than at pairs.
    "q_embedding_survivors" -> ((s, dir) => {
      Similarity.dedupByEmbedding(
          Tables.embeddings(s, dir).filter(col("vec_id") < semSubsetIds),
          "vec_id", "embedding", threshold = 0.4,
          dim = embeddingDim, tables = annTables, bits = annBits)
        .select("vec_id")
        .orderBy("vec_id")
    }),

    // int8 embedding quantization (X46): per-vector max-abs scale,
    // round-to-nearest codes, reconstruction. Every step is IEEE
    // double arithmetic + ties-away-from-zero rounding, so DuckDB
    // replays the scale, the exact code values (checked via exact sum
    // and L1 aggregates), and the reconstruction cosine of the
    // dequantized vector against the original.
    "q_quantize_embeddings" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).filter(col("vec_id") < semSubsetIds)
      val deq = Quantize.dequantize(col("q8"), col("q_scale"))
      Quantize.quantizeEmbeddings(emb, "embedding").select(
          col("vec_id"),
          roundPinned(col("q_scale"), 6).as("scale_r"),
          aggregate(col("q8"), lit(0L), (acc, x) => acc + x.cast("long")).as("q_sum"),
          aggregate(col("q8"), lit(0L), (acc, x) => acc + abs(x.cast("long"))).as("q_l1"),
          roundPinned(
            Similarity.dot(col("embedding"), deq) /
              (sqrt(Similarity.dot(col("embedding"), col("embedding"))) *
                sqrt(Similarity.dot(deq, deq))), 4).as("recon_cos_r"))
        .orderBy("vec_id")
    }),

    // SemDeDup (Abbas et al. 2023) semantic-dup pairs on a bounded id
    // subset: centroid assignment is max-DOT argmax over a
    // deterministic quantizer (the `semClusters` lowest-id vectors —
    // same oracle-replayable seed as q_ivf_topk), pairwise cosine only
    // within a cluster. The trained-quantizer composition
    // (trainCentroids → semanticDedup) is covered in SimilaritySpec.
    "q_semantic_dedup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).filter(col("vec_id") < semSubsetIds)
      val centroids = emb.orderBy("vec_id").limit(semClusters)
        .select("embedding").collect().map(_.getSeq[Float](0).toSeq).toSeq
      Similarity.semanticDedupPairs(emb, "vec_id", "embedding", centroids, semThreshold)
        .select(col("cluster"), col("a"), col("b"), roundPinned(col("sim"), 4).as("sim_r"))
        .orderBy("a", "b")
    }),

    // SemDeDup keep-set composition (semanticDedup): the same
    // pairs → distinct losers → left_anti policy as
    // q_embedding_survivors, over the cluster-then-prune pair set.
    "q_semantic_survivors" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).filter(col("vec_id") < semSubsetIds)
      val centroids = emb.orderBy("vec_id").limit(semClusters)
        .select("embedding").collect().map(_.getSeq[Float](0).toSeq).toSeq
      Similarity.semanticDedup(emb, "vec_id", "embedding", centroids, semThreshold)
        .select("vec_id")
        .orderBy("vec_id")
    }),

    // The SemDeDup cluster-size skew cap under the oracle: clusters
    // above the cap drop out of pairing on both engines identically
    // (the X44 analogue of q_dedup_capped).
    "q_semantic_capped" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).filter(col("vec_id") < semSubsetIds)
      val centroids = emb.orderBy("vec_id").limit(semClusters)
        .select("embedding").collect().map(_.getSeq[Float](0).toSeq).toSeq
      Similarity.semanticDedupPairs(emb, "vec_id", "embedding", centroids, semThreshold,
          maxClusterSize = semClusterCap)
        .select(col("cluster"), col("a"), col("b"), roundPinned(col("sim"), 4).as("sim_r"))
        .orderBy("a", "b")
    }),

    "q_simhash" -> ((s, dir) => {
      Dedup.simhash(Tables.documents(s, dir), "text", "doc_id", bits = 60,
          hasher = oracleH64)
        .orderBy("doc_id")
    }),

    // ---- similarity search --------------------------------------------
    "q_similarity_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < simQueryIds), "vec_id", "embedding", simK)
        .select(col("qid"), col("rank"), col("nid"), roundPinned(col("sim"), 4).as("sim_r"))
        .orderBy("qid", "rank")
    }),

    // Approximate paths — approximate in RECALL, but fully
    // deterministic: the hyperplanes/centroids derive from md5-based
    // constants both engines can compute, so DuckDB replays the exact
    // bucket → candidate → re-rank pipeline and the results
    // hash-match like every exact query (recall contracts additionally
    // live in SimilaritySpec).
    "q_ann_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.annTopK(
          emb, emb.filter(col("vec_id") < simQueryIds), "vec_id", "embedding",
          simK, dim = embeddingDim, tables = annTables, bits = annBits)
        .select(col("qid"), col("rank"), col("nid"), roundPinned(col("sim"), 4).as("sim_r"))
        .orderBy("qid", "rank")
    }),

    // X124: ANN recall@k as a CORRECTNESS row — per query, how many
    // of the exact-cosine top-k the LSH path recovered. Both arms are
    // deterministic (md5 hyperplanes; brute force is exact), so the
    // recall numbers themselves hash-match the oracle: the
    // approximation QUALITY is now driver-checked, not just specced.
    "q_ann_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < simQueryIds)
      val ann = Similarity.annTopK(
          emb, q, "vec_id", "embedding", simK,
          dim = embeddingDim, tables = annTables, bits = annBits)
        .select(col("qid"), col("nid"))
      val brute = Similarity
        .bruteForceTopK(emb, q, "vec_id", "embedding", simK)
        .select(col("qid"), col("nid"))
      val hits = brute.join(ann, Seq("qid", "nid"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("qid"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          roundPinned(coalesce(col("n_hits"), lit(0L)).cast("double") / lit(simK), 4)
            .as("recall_r"))
        .orderBy("qid")
    }),

    // X125: the retrieval eval loop — recall@k / MRR / nDCG@k per
    // query for the LSH ANN arm against the exact-cosine ranking as
    // graded ground truth (grade = k − exact_rank + 1). Completes the
    // RAG stack's evaluation leg next to q_ann_recall's overlap count:
    // MRR says how fast the first good hit arrives, nDCG weights the
    // whole ranking. DCG sums are quantized-integer (order-free) with
    // ln 2 embedded as the same literal in both engines, so the
    // metrics hash-match like the rest of the ANN family.
    "q_retrieval_metrics" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < simQueryIds)
      val ann = Similarity.annTopK(
          emb, q, "vec_id", "embedding", simK,
          dim = embeddingDim, tables = annTables, bits = annBits)
        .select(col("qid"), col("nid"), col("rank"))
      val brute = Similarity
        .bruteForceTopK(emb, q, "vec_id", "embedding", simK)
        .select(col("qid"), col("nid"),
          (lit(simK) - col("rank") + lit(1)).cast("double").as("grade"))
      RetrievalEval.retrievalMetrics(
          ann, brute, "qid", "nid", "rank", "grade", k = simK)
        .orderBy("qid")
    }),

    // X134: classification report — per-class precision/recall/F1 +
    // accuracy + Cohen's κ of the n-gram language-ID heuristic against
    // the gold lang column. κ is the inter-annotator-agreement
    // statistic; one grouped count to the confusion frame, integer
    // ratios, quantized chance-agreement sum: hash-exact.
    "q_classifier_report" -> ((s, dir) => {
      ClassifierEval.classificationReport(
          Tables.documents(s, dir),
          TextAnalysis.langId(col("text")), col("lang"))
        .orderBy("class")
    }),

    // X132: competence-based curriculum phases — every document gated
    // into one of 4 root-paced phases by its approximate difficulty
    // percentile (token count), read from the log-histogram sketch
    // instead of a global percent_rank: no corpus sort, one broadcast
    // bucket join. Integer cumulatives + sqrt thresholds: hash-exact.
    "q_curriculum" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      Curriculum.phaseAssign(
          d, size(TextAnalysis.tokens(col("text"))), phases = 4)
        .select("doc_id", "pctl_r", "phase")
        .orderBy("doc_id")
    }),

    // X129: per-source corpus datasheet — the dataset-card summary
    // table (volume, length shape, language makeup, exact-dup rate)
    // that sits in front of every mixing/curation decision. Integer
    // counts, exact grouped median, 4-decimal ratios: hash-exact.
    "q_corpus_datasheet" -> ((s, dir) => {
      Datasheet.corpusDatasheet(
          Tables.documents(s, dir), "source", "text", "lang")
        .orderBy("source")
    }),

    // X126: word2vec-style negative sampling — 4 deterministic
    // negatives per document from the freq^0.75-smoothed unigram
    // distribution. Fully integer sampling path (quantized CDF, hash
    // draw mod total) and the 3/4 power composed from correctly-
    // rounded sqrts, so every draw replays bit-exactly in DuckDB; the
    // engine-side inverse-CDF lookup is a bucketed equi-join, not a
    // range join.
    "q_negative_sampling" -> ((s, dir) => {
      val freqs = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
      NegSampling.sampleNegatives(
          Tables.documents(s, dir).select("doc_id"), "doc_id",
          freqs, "token", "freq", k = negK)
        .orderBy("doc_id", "slot")
    }),

    // The X46 + X9 composition a quantized 100 TB corpus actually
    // runs: embeddings stored int8, reconstructed on read
    // (dequantizeFloat), then LSH ANN top-k over the reconstruction —
    // queries come from the same quantized store (store-once reality).
    // Still oracle-exact: the double→float cast in dequantizeFloat is
    // IEEE round-to-nearest-even in both engines.
    "q_ann_topk_q8" -> ((s, dir) => {
      val deq = Quantize.quantizeEmbeddings(
          Tables.embeddings(s, dir), "embedding")
        .select(col("vec_id"),
          Quantize.dequantizeFloat(col("q8"), col("q_scale")).as("embedding"))
      Similarity.annTopK(
          deq, deq.filter(col("vec_id") < simQueryIds), "vec_id", "embedding",
          simK, dim = embeddingDim, tables = annTables, bits = annBits)
        .select(col("qid"), col("rank"), col("nid"), roundPinned(col("sim"), 4).as("sim_r"))
        .orderBy("qid", "rank")
    }),

    "q_ivf_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(
          emb, emb.filter(col("vec_id") < simQueryIds), "vec_id", "embedding",
          simK, nCentroids = ivfCentroids, nProbe = ivfProbe)
        .select(col("qid"), col("rank"), col("nid"), roundPinned(col("sim"), 4).as("sim_r"))
        .orderBy("qid", "rank")
    }),

    // X103 product quantization: the corpus is stored as m=8 codes
    // per vector (never raw floats on the scoring side), queries rank
    // by the ADC table-lookup inner product. The deterministic
    // lowest-id codebooks make every step — subspace argmin codes,
    // per-query LUTs, the in-order ADC fold — replayable by DuckDB.
    "q_pq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = Pq.lowestIdCodebooks(
        emb, "vec_id", "embedding", embeddingDim, pqM, pqKsub)
      val codes = Pq.encode(emb, "embedding", model)
        .select(col("vec_id"), col("pq_codes"))
      Pq.adcTopK(codes, emb.filter(col("vec_id") < simQueryIds),
          "vec_id", "embedding", model, simK)
        .select(col("qid"), col("rank"), col("nid"),
          roundPinned(col("adc"), 4).as("adc_r"))
        .orderBy("qid", "rank")
    }),

    // X104 IVF-PQ (FAISS's IVFADC): candidates bounded by probing
    // nProbe of the coarse cells, scoring by ADC over RESIDUAL codes
    // — q·c_cell (already computed by the probe ranking) plus the
    // m-lookup LUT sum. The corpus side of the scoring join carries
    // (cell, id, codes) only; raw vectors never move. Deterministic
    // end to end: lowest-id coarse centroids (the q_ivf_topk seed),
    // lowest-id residual codebooks, exact float residual cast.
    "q_ivfpq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = emb.select(col("vec_id"), col("embedding"))
        .orderBy("vec_id").limit(ivfCentroids)
        .collect().map(_.getSeq[Float](1)).toSeq
      val model = Pq.lowestIdResidualCodebooks(
        emb, "vec_id", "embedding", cents, embeddingDim, pqM, pqKsub)
      Pq.ivfAdcTopK(emb, emb.filter(col("vec_id") < simQueryIds),
          "vec_id", "embedding", cents, model, ivfProbe, simK)
        .select(col("qid"), col("rank"), col("nid"),
          roundPinned(col("adc"), 4).as("adc_r"))
        .orderBy("qid", "rank")
    }),

    // Full curation pipeline composed end-to-end: quality filter ∩
    // near-dup survivors → per-language corpus stats. The shape a real
    // training-data run executes: each stage is one of the
    // oracle-verified ops above, composed lazily into a single plan.
    "q_curation" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val statCols = TextAnalysis.stats(col("text")).map { case (n, c) => c.as(n) }
      val stats = d.select(col("doc_id") +: col("lang") +: statCols: _*)
      val quality = stats.filter(TextAnalysis.qualityPredicate(
        col("n_tokens"), col("alpha_ratio"), col("avg_token_len")))
      val survivors = Dedup.dedupNear(d, "text", "doc_id", threshold = 0.5,
          baseHasher = oracleBaseHash)
        .select("doc_id")
      quality.join(survivors, Seq("doc_id"), "left_semi")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          roundPinned(avg(col("n_tokens")), 4).as("avg_tokens"),
          sum(col("bpe_tokens")).as("total_bpe_tokens"))
        .orderBy("lang")
    }),

    // The brief's full training-data pipeline as ONE oracle-checked
    // composition — every stage is an already-verified op, chained
    // lazily into a single plan exactly as a production curation job
    // would run it:
    //   corpus (doc_id >= 25)
    //     → near-dup dedup (LSH keep-min-id survivors within corpus)
    //     → quality gate (token/alpha/length predicate)
    //     → decontaminate vs the bench set (doc_id < 25, ≥2 shared
    //       trigrams → removed)
    //     → source-weighted mixing (50/25/25 over src0/src1/src7,
    //       2000-token budget, seeded-hash order)
    //     → sequence packing (BPE tokens, 512-token packs, id order).
    // DuckDB replays each stage over the shared MinHash/shingle CTEs.
    "q_pipeline_curation" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val corpus = d.filter(col("doc_id") >= pipelineBenchCut)
      val bench = d.filter(col("doc_id") < pipelineBenchCut)
      val deduped = Dedup.dedupNear(corpus, "text", "doc_id",
        k = 16, bands = 8, shingleN = 3, threshold = 0.5,
        baseHasher = oracleBaseHash)
      val statCols = TextAnalysis.stats(col("text")).map { case (n, c) => c.as(n) }
      val stats = deduped.select(
        col("doc_id") +: col("source") +: col("text") +: statCols: _*)
      // The quality frame feeds TWO consumers — the decontamination
      // gram side and the anti-join left — and everything upstream
      // (LSH dedup + stats) would otherwise execute twice. persistOnce
      // materializes the dedup+quality prefix exactly once (plan-keyed,
      // released by Verify/Bench's unpersistAll like every other
      // shared frame).
      val quality = graft.CachedFrames.persistOnce(
        stats.filter(TextAnalysis.qualityPredicate(
          col("n_tokens"), col("alpha_ratio"), col("avg_token_len"))))
      val contaminated = Curation.decontaminate(quality, bench, "text", "doc_id",
          shingleN = 3, minShared = 2L)
        .select("doc_id").distinct()
      // Project BEFORE the mix/pack stages (r22, guide §2.3/§8): they
      // range-shuffle twice and run RDD row-conversion passes that
      // defeat column pruning, and nothing downstream reads `text` or
      // the unused stat columns — only these four narrow columns need
      // to move.
      val clean = quality.join(contaminated, Seq("doc_id"), "left_anti")
        .select("doc_id", "source", "n_tokens", "bpe_tokens")
      val mixed = Curation.mixSources(clean, "doc_id", "source", "n_tokens",
        Seq("src0" -> 0.5, "src1" -> 0.25, "src7" -> 0.25),
        tokenBudget = 2000L, seed = 13L, hasher = TextAnalysis.h64)
      Curation.packSequences(mixed, "doc_id", "bpe_tokens", 512L)
        .select("doc_id", "source", "n_tokens", "bpe_tokens",
          "mix_tokens_before", "pack_id", "pack_offset")
        .orderBy("doc_id")
    }),

    // The SAME composition in its production configuration: the dedup
    // stage is bucket-capped (maxBucketSize=2 bounds the B² pair
    // blow-up from boilerplate) and quality-aware (X47 keep-best by
    // BPE token count, not keep-min-id) — the exact shape a 100 TB
    // curation job runs. Downstream stages and oracle tail are shared
    // verbatim with q_pipeline_curation.
    "q_pipeline_curation_best" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      // the SAME corpus frame as q_pipeline_curation, so the two
      // variants share the persistOnce'd signature frame (their pair
      // frames differ only by the bucket cap applied after it)
      val corpus = d.filter(col("doc_id") >= pipelineBenchCut)
      val bench = d.filter(col("doc_id") < pipelineBenchCut)
      val deduped = Dedup.dedupNearBy(corpus, "text", "doc_id",
        TextAnalysis.bpeTokenCount(col("text")),
        k = 16, bands = 8, shingleN = 3, threshold = 0.5,
        baseHasher = oracleBaseHash, maxBucketSize = 2)
      val statCols = TextAnalysis.stats(col("text")).map { case (n, c) => c.as(n) }
      val stats = deduped.select(
        col("doc_id") +: col("source") +: col("text") +: statCols: _*)
      val quality = graft.CachedFrames.persistOnce(
        stats.filter(TextAnalysis.qualityPredicate(
          col("n_tokens"), col("alpha_ratio"), col("avg_token_len"))))
      val contaminated = Curation.decontaminate(quality, bench, "text", "doc_id",
          shingleN = 3, minShared = 2L)
        .select("doc_id").distinct()
      // same narrow projection before mix/pack as q_pipeline_curation
      // (r22, guide §2.3/§8) — and the same plan CorpusBuild builds, so
      // the sorted mix frame persistOnce-shares with q_pipeline_corpus
      val clean = quality.join(contaminated, Seq("doc_id"), "left_anti")
        .select("doc_id", "source", "n_tokens", "bpe_tokens")
      val mixed = Curation.mixSources(clean, "doc_id", "source", "n_tokens",
        Seq("src0" -> 0.5, "src1" -> 0.25, "src7" -> 0.25),
        tokenBudget = 2000L, seed = 13L, hasher = TextAnalysis.h64)
      Curation.packSequences(mixed, "doc_id", "bpe_tokens", 512L)
        .select("doc_id", "source", "n_tokens", "bpe_tokens",
          "mix_tokens_before", "pack_id", "pack_offset")
        .orderBy("doc_id")
    }),

    // The corpus-build closure (VERDICT r18 #5): the curation_best
    // composition extended through the LAST two stages a training
    // corpus needs — deterministic train/val/test split (hash
    // bucket-of-10k) and curriculum phases over the train slice's own
    // difficulty distribution (log-histogram percentile; val/test
    // carry NULL phases). This is exactly the frame `--pipeline
    // build-corpus` publishes (CorpusBuild.corpusFrame), run here with
    // the oracle hashers; DuckDB replays the added stages on top of
    // the shared curation CTEs.
    "q_pipeline_corpus" -> ((s, dir) => {
      graft.pipeline.CorpusBuild.corpusFrame(
          Tables.documents(s, dir),
          graft.pipeline.CorpusBuild.Config(),
          baseHasher = oracleBaseHash,
          hasher = oracleH64)
        .orderBy("doc_id")
    }),

    // X136 reference-based generation eval (BLEU/ROUGE family):
    // clipped n-gram precisions p1..p4, ROUGE-1/2 recall + F1,
    // add-1-smoothed BLEU composed by NESTED SQRT (the repo's
    // exp/pow-free convention), and the length ratio — demonstrated as
    // a truncation audit: candidate = the first 60% of each document's
    // tokens, reference = the full text. Exploded gram counts + one
    // (doc, n, gram) equi-join: no per-row quadratic lambdas, the
    // shape that streams at eval-set scale. Integer counts, mirrored
    // double expressions: hash-exact.
    "q_text_eval" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val toks = TextAnalysis.tokens(col("text"))
      val cut = ceil(size(toks).cast("double") * lit(0.6)).cast("int")
      TextEval.ngramOverlap(
          d.select(col("doc_id"),
            concat_ws(" ", slice(toks, lit(1), cut)).as("cand"),
            col("text").as("ref")),
          "doc_id", col("cand"), col("ref"))
        .orderBy("doc_id")
    }),

    // X137 edit-distance eval: exact Levenshtein (codegen'd built-in;
    // DuckDB replays the identical DP) + normalized similarity over a
    // deterministic adjacent-pair set (each doc against the next
    // doc_id, capped to doc_id < 200 — the op scores pairs, the
    // upstream screen bounds them, identically at every SF).
    "q_edit_similarity" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select("doc_id", "text").filter(col("doc_id") < 200)
      val nxt = d.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("text2"))
      TextEval.editSimilarity(
          d.join(nxt, Seq("doc_id")), Seq("doc_id"), col("text"), col("text2"))
        .orderBy("doc_id")
    }),

    // ---- multimodal ----------------------------------------------------
    "q_multimodal_decode" -> ((s, dir) => {
      Multimodal.decodeDocuments(s, Tables.documents(s, dir), "doc_id", "text")
        .toDF()
        .orderBy("id")
    }),

    "q_frame_sample" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.ingestUtf8(
        Tables.documents(s, dir), "doc_id", "text", "video/fake")
        .as[Multimodal.MediaRecord]
      Multimodal.frameSampleStub(media, nFrames = 4, frameBytes = 64)
        .toDF()
        .orderBy("id", "frame_index")
    }),

    // REAL image decode over the checked-in PNG fixture: Spark decodes
    // the full raster via javax.imageio; the oracle independently reads
    // width/height from the PNG IHDR header bytes. The non-image row
    // pins the (-1, -1) quarantine path.
    "q_image_decode" -> ((s, _) => {
      import s.implicits._
      val media = Multimodal.ingestBase64(
        mediaFixtureJson(s)(imagesFixture), "id", "b64", "image")
        .as[Multimodal.MediaRecord]
      Multimodal.decodeImage(media)
        .select("id", "byte_len", "format", "width", "height")
        .orderBy("id")
    }),

    // REAL multi-frame pipeline over the checked-in animated-GIF
    // fixture, two composed stages in one result:
    //   'sample'        — sampleImageFrames(gif, 4): equal-spaced REAL
    //                     frame decodes; the oracle derives the
    //                     expected indices from the generator's frame
    //                     count and the dims from the GIF logical-
    //                     screen header bytes.
    //   'resize_sample' — resizeImage(gif, 16, 16) → sampleImageFrames:
    //                     the re-encoded PNG is a single 16×16 frame;
    //                     the non-image quarantine row passes through
    //                     resize unchanged and yields no rows.
    "q_gif_frames" -> ((s, _) => {
      import s.implicits._
      val media = Multimodal.ingestBase64(
        mediaFixtureJson(s)(gifsFixture), "id", "b64", "image/gif")
        .as[Multimodal.MediaRecord]
      def stageOf(name: String, frames: org.apache.spark.sql.Dataset[Multimodal.DecodedFrame]) =
        frames.toDF().select(
          lit(name).as("stage"), col("id"), col("frame_index"),
          col("width"), col("height"))
      stageOf("sample", Multimodal.sampleImageFrames(media, maxFrames = 4))
        .unionByName(stageOf("resize_sample",
          Multimodal.sampleImageFrames(
            Multimodal.resizeImage(media, 16, 16), maxFrames = 4)))
        .orderBy("stage", "id", "frame_index")
    }),

    // REAL audio decode over the checked-in WAV fixture: Spark opens
    // the stream via javax.sound.sampled; the oracle independently
    // reads rate/channels/bits/frames from the RIFF header bytes
    // (little-endian, so hex byte pairs are swapped before casting).
    "q_audio_decode" -> ((s, _) => {
      import s.implicits._
      val media = Multimodal.ingestBase64(
        mediaFixtureJson(s)(audioFixture), "id", "b64", "audio")
        .as[Multimodal.MediaRecord]
      Multimodal.decodeAudio(media).toDF().orderBy("id")
    }),

    // Perceptual image hash (dHash) over the uncompressed-BMP fixture:
    // Spark decodes the raster via javax.imageio and hashes the
    // nearest-neighbor 9×8 integer-luma grid; the oracle replays the
    // IDENTICAL hash from the raw BMP bytes (pixel array offset /
    // dims from the header, bottom-up BGR rows, same integer luma and
    // center-sample arithmetic) — the whole pipeline is exact integer
    // math, so the 64-bit values match bit-for-bit. The non-image row
    // pins the (-1, -1, NULL) quarantine path.
    "q_image_phash" -> ((s, _) => {
      import s.implicits._
      val media = Multimodal.ingestBase64(
        mediaFixtureJson(s)(bmpsFixture), "id", "b64", "image/bmp")
        .as[Multimodal.MediaRecord]
      Multimodal.dHash(media).toDF()
        .select(col("id"), col("width"), col("height"),
          lower(lpad(hex(col("phash")), 16, "0")).as("phash_hex"))
        .orderBy("id")
    }),

    // Image near-dup pairs: the dHash frame feeds the SAME hamming
    // banding as text simhash (simhashNearDupPairs, 8 chunks × 8
    // bits): any pair within hamming ≤ 7 shares at least one 8-bit
    // chunk by pigeonhole, so the banded equi-join has EXACT recall
    // at this threshold and the oracle can brute-force the tiny
    // fixture (the engine never does — bucket join only).
    "q_image_neardup" -> ((s, _) => {
      import s.implicits._
      val media = Multimodal.ingestBase64(
        mediaFixtureJson(s)(bmpsFixture), "id", "b64", "image/bmp")
        .as[Multimodal.MediaRecord]
      val fps = Multimodal.dHash(media).toDF()
        .filter(col("phash").isNotNull)
        .select(col("id"), col("phash").as("simhash"))
      Dedup.simhashNearDupPairs(fps, "id", bits = 64, chunks = 8, maxHamming = 7)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy("a", "b")
    }),

    // Perceptual audio fingerprint (X138, the audio twin of dHash)
    // over the WAV/AIFF/AU fixture: Spark decodes the real PCM stream
    // via javax.sound.sampled and hashes the 8-band × 9-cell integer
    // energy grid (comb-filter bands, sign-of-rise bits); the oracle
    // replays the IDENTICAL hash from the raw container bytes (header
    // offsets per format, channel-0 canonical samples, same lag-k /
    // cell / comparison arithmetic). Cross-container re-encodes of the
    // same signal (WAV↔AIFF↔AU) and the exact half-gain twin hash
    // identically; the non-audio row pins the (-1, NULL) quarantine.
    "q_audio_phash" -> ((s, _) => {
      import s.implicits._
      val media = Multimodal.ingestBase64(
        mediaFixtureJson(s)(audioFixture), "id", "b64", "audio")
        .as[Multimodal.MediaRecord]
      Multimodal.audioFingerprint(media).toDF()
        .select(col("id"), col("n_frames"),
          lower(lpad(hex(col("phash")), 16, "0")).as("phash_hex"))
        .orderBy("id")
    }),

    // Audio near-dup pairs: the energy fingerprint feeds the SAME
    // hamming banding as text simhash and image dHash
    // (simhashNearDupPairs, 8 chunks × 8 bits, pigeonhole-exact at
    // hamming ≤ 7); the oracle brute-forces the tiny fixture, the
    // engine never does (bucket join only). The expected pairs are the
    // PLANTED re-encodes: same-signal WAV↔AIFF/AU containers and the
    // half-gain twin — the unrelated-envelope row pairs with nothing.
    "q_audio_neardup" -> ((s, _) => {
      import s.implicits._
      val media = Multimodal.ingestBase64(
        mediaFixtureJson(s)(audioFixture), "id", "b64", "audio")
        .as[Multimodal.MediaRecord]
      val fps = Multimodal.audioFingerprint(media).toDF()
        .filter(col("phash").isNotNull)
        .select(col("id"), col("phash").as("simhash"))
      Dedup.simhashNearDupPairs(fps, "id", bits = 64, chunks = 8, maxHamming = 7)
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy("a", "b")
    }),

    // Media crawl-cycle screen (X139): two real MediaCycle runs over a
    // temp store — cycle 1 bootstraps (all kept), cycle 2 re-crawls
    // exact copies (dropped on the byte fingerprint), re-encoded /
    // gain-shifted perceptual twins (dropped on the kind-keyed banded
    // hamming join against the persisted phash store), genuinely new
    // and quarantined payloads (kept). Image and audio ride ONE
    // increment; the oracle replays both hash families plus the
    // keep-old-drop-new logic in SQL (byte-equality exact screen,
    // brute-force hamming near screen over the tiny fixture — the
    // engine's banded join is recall-exact at hamming ≤ 7, so the
    // decisions must agree).
    "q_media_screen" -> ((s, _) => {
      val bmp = Multimodal.ingestBase64(
        mediaFixtureJson(s)(bmpsFixture), "id", "b64", "image")
      val aud = Multimodal.ingestBase64(
        mediaFixtureJson(s)(audioFixture), "id", "b64", "audio")
        .withColumn("id", col("id") + 100)
      val media = bmp.unionByName(aud)
      val scratch =
        java.nio.file.Files.createTempDirectory("graft_media_cycle_").toString
      try {
        media.filter(col("id").isin(1, 2, 3, 101, 110))
          .write.parquet(s"$scratch/inc1")
        media.filter(col("id").isin(2, 3, 4, 5, 6, 106, 111, 112))
          .write.parquet(s"$scratch/inc2")
        val out1 = graft.pipeline.MediaCycle.run(s, graft.pipeline.MediaCycle.Config(
          s"$scratch/inc1", s"$scratch/out1", s"$scratch/store"))
        val out2 = graft.pipeline.MediaCycle.run(s, graft.pipeline.MediaCycle.Config(
          s"$scratch/inc2", s"$scratch/out2", s"$scratch/store"))
        val res = out1.select(lit(1).as("cycle"), col("id"))
          .unionByName(out2.select(lit(2).as("cycle"), col("id")))
          .orderBy("cycle", "id")
        val rows = res.collect()
        s.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), res.schema)
          .orderBy("cycle", "id")
      } finally {
        val p = new org.apache.hadoop.fs.Path(scratch)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        ()
      }
    }))

  /** The media fixtures all carry exactly (id, b64); reading them with
    * the schema stated skips the whole-file inference scan Spark runs
    * per `read.json` call — one fewer job per fixture read, nine sites
    * across the decode/phash/media-cycle queries (r21). The Yelp
    * fixtures in PipelineQueries deliberately KEEP inference: S1
    * schema-inference is the operator those queries demonstrate.
    */
  private def mediaFixtureJson(s: SparkSession)(path: String) =
    s.read.schema("id LONG, b64 STRING").json(path)

  val imagesFixture = Fixtures.path("images.ndjson")
  val audioFixture = Fixtures.path("audio.ndjson")
  val gifsFixture = Fixtures.path("gifs.ndjson")
  val bmpsFixture = Fixtures.path("bmps.ndjson")

  /** Shared dHash-replay CTEs for the BMP fixture oracles, ending in
    * `ph(id, w, h, hi, lo)` — the 64-bit dHash as two u32 halves
    * (DuckDB BIGINT can't hold bit 63 as a positive shift without
    * overflow). Byte N (0-based) of the blob is hex chars 2N+1..2N+2;
    * BMP: 'BM' magic, pixel-array offset at bytes 10-13 (LE), width
    * at 18-21, height at 22-25, bottom-up BGR rows padded to 4 bytes.
    * Luma and center-sampling mirror [[Multimodal.dHash]]'s integer
    * arithmetic exactly.
    */
  /** Shared audio-fingerprint replay CTEs for the WAV/AIFF/AU fixture
    * oracles, ending in `au_afp(id, n_frames, hi, lo)` — the 64-bit
    * energy fingerprint as two u32 halves (the [[bmpDhashCtes]]
    * convention). Per-format header parses follow the q_audio_decode
    * oracle (RIFF little-endian, AIFF/AU big-endian; canonical data
    * offsets 44/54/24); channel-0 samples canonicalize to the signed
    * 16-bit lattice (8-bit ×256, unsigned WAV re-centered), band k =
    * Σ|x_i − x_{i−k}| per (9-cell) time cell with lag-default 0 (band
    * 0 = Σ|x|), bit (k·8 + t) = energy rises from cell t to t+1 —
    * mirroring [[graft.ops.Multimodal.audioFingerprint]]'s integer
    * arithmetic exactly.
    */
  private def audioFpCtes: String =
    s"""WITH au_raw AS (
       |  SELECT * FROM read_json('$audioFixture', format='newline_delimited')
       |), au_b AS (
       |  SELECT id, from_base64(b64) AS blob FROM au_raw
       |), au_h AS (
       |  SELECT id, hex(blob) AS hx,
       |    CASE WHEN substr(hex(blob), 1, 8) = '52494646' THEN 'riff'
       |         WHEN substr(hex(blob), 1, 8) = '464F524D'
       |          AND substr(hex(blob), 17, 8) = '41494646' THEN 'aiff'
       |         WHEN substr(hex(blob), 1, 8) = '2E736E64' THEN 'au'
       |         ELSE 'bin' END AS format
       |  FROM au_b
       |), au_meta AS (
       |  SELECT id, hx, format,
       |    CASE format
       |      WHEN 'riff' THEN ('0x' || substr(hx, 47, 2) || substr(hx, 45, 2))::INTEGER
       |      WHEN 'aiff' THEN ('0x' || substr(hx, 41, 4))::INTEGER
       |      WHEN 'au'   THEN ('0x' || substr(hx, 41, 8))::INTEGER
       |      ELSE -1 END AS channels,
       |    CASE format
       |      WHEN 'riff' THEN ('0x' || substr(hx, 71, 2) || substr(hx, 69, 2))::INTEGER
       |      WHEN 'aiff' THEN ('0x' || substr(hx, 53, 4))::INTEGER
       |      WHEN 'au'   THEN CASE ('0x' || substr(hx, 25, 8))::INTEGER
       |                        WHEN 2 THEN 8 WHEN 3 THEN 16 ELSE -1 END
       |      ELSE -1 END AS bits,
       |    CASE format WHEN 'riff' THEN 44 WHEN 'aiff' THEN 54 WHEN 'au' THEN 24
       |      ELSE -1 END AS doff,
       |    (format <> 'riff') AS be
       |  FROM au_h
       |), au_m2 AS (
       |  SELECT *, channels * bits // 8 AS ba,
       |    CASE format
       |      WHEN 'riff' THEN ('0x' || substr(hx, 87, 2) || substr(hx, 85, 2)
       |                             || substr(hx, 83, 2) || substr(hx, 81, 2))::BIGINT
       |                       // (channels * bits // 8)
       |      WHEN 'aiff' THEN ('0x' || substr(hx, 45, 8))::BIGINT
       |      WHEN 'au'   THEN ('0x' || substr(hx, 17, 8))::BIGINT // (channels * bits // 8)
       |      ELSE -1 END AS n_frames
       |  FROM au_meta
       |), au_samp AS (
       |  SELECT id, n_frames, hx, doff, ba, bits, be, format,
       |    unnest(generate_series(0, n_frames - 1)) AS i
       |  FROM au_m2
       |  WHERE format <> 'bin' AND bits IN (8, 16) AND n_frames >= 9
       |), au_sraw AS (
       |  SELECT id, n_frames, i, bits, format,
       |    CASE WHEN bits = 16 THEN
       |      ('0x' || CASE WHEN be
       |        THEN substr(hx, 2*(doff + i*ba) + 1, 2) || substr(hx, 2*(doff + i*ba) + 3, 2)
       |        ELSE substr(hx, 2*(doff + i*ba) + 3, 2) || substr(hx, 2*(doff + i*ba) + 1, 2)
       |      END)::INTEGER
       |    ELSE 0 END AS r16,
       |    CASE WHEN bits = 8 THEN ('0x' || substr(hx, 2*(doff + i*ba) + 1, 2))::INTEGER
       |    ELSE 0 END AS r8
       |  FROM au_samp
       |), au_sx AS (
       |  SELECT id, n_frames, i,
       |    CASE WHEN bits = 16 THEN CASE WHEN r16 >= 32768 THEN r16 - 65536 ELSE r16 END
       |         WHEN format = 'riff' THEN (r8 - 128) * 256
       |         ELSE (CASE WHEN r8 >= 128 THEN r8 - 256 ELSE r8 END) * 256 END AS x
       |  FROM au_sraw
       |), au_d AS (
       |  SELECT id, (i * 9) // n_frames AS cell,
       |    abs(x) AS e0,
       |    abs(x - lag(x, 1, 0) OVER w) AS e1,
       |    abs(x - lag(x, 2, 0) OVER w) AS e2,
       |    abs(x - lag(x, 3, 0) OVER w) AS e3,
       |    abs(x - lag(x, 4, 0) OVER w) AS e4,
       |    abs(x - lag(x, 5, 0) OVER w) AS e5,
       |    abs(x - lag(x, 6, 0) OVER w) AS e6,
       |    abs(x - lag(x, 7, 0) OVER w) AS e7
       |  FROM au_sx WINDOW w AS (PARTITION BY id ORDER BY i)
       |), au_ce AS (
       |  SELECT id, cell, sum(e0) AS e0, sum(e1) AS e1, sum(e2) AS e2,
       |    sum(e3) AS e3, sum(e4) AS e4, sum(e5) AS e5, sum(e6) AS e6,
       |    sum(e7) AS e7
       |  FROM au_d GROUP BY id, cell
       |), au_cb AS (
       |  SELECT id, cell,
       |    (lead(e0) OVER w2 > e0)::INT AS b0, (lead(e1) OVER w2 > e1)::INT AS b1,
       |    (lead(e2) OVER w2 > e2)::INT AS b2, (lead(e3) OVER w2 > e3)::INT AS b3,
       |    (lead(e4) OVER w2 > e4)::INT AS b4, (lead(e5) OVER w2 > e5)::INT AS b5,
       |    (lead(e6) OVER w2 > e6)::INT AS b6, (lead(e7) OVER w2 > e7)::INT AS b7
       |  FROM au_ce WINDOW w2 AS (PARTITION BY id ORDER BY cell)
       |), au_afp AS (
       |  SELECT id, max(n_frames) AS n_frames,
       |    sum(CASE WHEN cell <= 7 THEN
       |      b0 * (1::BIGINT << cell) + b1 * (1::BIGINT << (8 + cell)) +
       |      b2 * (1::BIGINT << (16 + cell)) + b3 * (1::BIGINT << (24 + cell))
       |      ELSE 0 END)::BIGINT AS lo,
       |    sum(CASE WHEN cell <= 7 THEN
       |      b4 * (1::BIGINT << cell) + b5 * (1::BIGINT << (8 + cell)) +
       |      b6 * (1::BIGINT << (16 + cell)) + b7 * (1::BIGINT << (24 + cell))
       |      ELSE 0 END)::BIGINT AS hi
       |  FROM (SELECT au_cb.*, au_m2.n_frames FROM au_cb JOIN au_m2 USING (id)) GROUP BY id
       |)""".stripMargin

  private def bmpDhashCtes: String =
    s"""WITH raw AS (
       |  SELECT * FROM read_json('$bmpsFixture', format='newline_delimited')
       |), hxt AS (
       |  SELECT id, hex(from_base64(b64)) AS hx FROM raw
       |), dims AS (
       |  SELECT id, hx,
       |    ('0x' || substr(hx,27,2) || substr(hx,25,2)
       |           || substr(hx,23,2) || substr(hx,21,2))::INTEGER AS off,
       |    ('0x' || substr(hx,43,2) || substr(hx,41,2)
       |           || substr(hx,39,2) || substr(hx,37,2))::INTEGER AS w,
       |    ('0x' || substr(hx,51,2) || substr(hx,49,2)
       |           || substr(hx,47,2) || substr(hx,45,2))::INTEGER AS h
       |  FROM hxt WHERE substr(hx, 1, 4) = '424D'
       |), cells AS (
       |  SELECT d.id, u.cy, v.cx,
       |    (299 * ('0x' || substr(d.hx, 2*(d.off
       |        + (d.h - 1 - ((2*u.cy+1)*d.h)//16) * (((3*d.w + 3)//4)*4)
       |        + 3*(((2*v.cx+1)*d.w)//18) + 2) + 1, 2))::INTEGER
       |     + 587 * ('0x' || substr(d.hx, 2*(d.off
       |        + (d.h - 1 - ((2*u.cy+1)*d.h)//16) * (((3*d.w + 3)//4)*4)
       |        + 3*(((2*v.cx+1)*d.w)//18) + 1) + 1, 2))::INTEGER
       |     + 114 * ('0x' || substr(d.hx, 2*(d.off
       |        + (d.h - 1 - ((2*u.cy+1)*d.h)//16) * (((3*d.w + 3)//4)*4)
       |        + 3*(((2*v.cx+1)*d.w)//18)) + 1, 2))::INTEGER) // 1000 AS lum
       |  FROM dims d,
       |    LATERAL (SELECT unnest(generate_series(0, 7)) AS cy) u,
       |    LATERAL (SELECT unnest(generate_series(0, 8)) AS cx) v
       |), bits AS (
       |  SELECT a.id, a.cy * 8 + a.cx AS p,
       |    CASE WHEN b.lum > a.lum THEN 1::BIGINT ELSE 0::BIGINT END AS bit
       |  FROM cells a
       |  JOIN cells b ON a.id = b.id AND a.cy = b.cy AND b.cx = a.cx + 1
       |  WHERE a.cx < 8
       |), ph AS (
       |  SELECT d.id, d.w, d.h,
       |    coalesce(sum(CASE WHEN t.p >= 32 THEN t.bit << (t.p - 32) ELSE 0 END), 0)::BIGINT AS hi,
       |    coalesce(sum(CASE WHEN t.p < 32 THEN t.bit << t.p ELSE 0 END), 0)::BIGINT AS lo
       |  FROM dims d JOIN bits t ON d.id = t.id
       |  GROUP BY d.id, d.w, d.h
       |)""".stripMargin

  // ---- oracle SQL ------------------------------------------------------

  /** Corpus ∪ mutated twins (mirrors [[withMutatedTwins]]), plus the
    * dedup-normal form: lowercase → strip non-[a-z0-9\s] → collapse
    * whitespace → trim — identical regex semantics in both engines.
    */
  private def normalizedCorpusCte: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, upper(text) || ' !!!  ' AS text
      |  FROM documents
      |), norm AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(lower(text),
      |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS n
      |  FROM corpus
      |)""".stripMargin

  private def statsOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents
       |), s AS (
       |  SELECT doc_id,
       |    length(text)::BIGINT AS n_chars,
       |    len(toks)::BIGINT AS n_tokens,
       |    len(list_distinct(toks))::BIGINT AS n_types,
       |    round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
       |          / length(text)::DOUBLE, 4) AS alpha_ratio,
       |    round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE
       |          / len(toks)::DOUBLE, 4) AS avg_token_len,
       |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS bpe_tokens
       |  FROM t
       |)
       |SELECT *,
       |  (n_tokens >= 5 AND n_tokens <= 5000 AND alpha_ratio >= 0.5
       |   AND avg_token_len >= 2.0 AND avg_token_len <= 20.0) AS is_quality
       |FROM s ORDER BY doc_id""".stripMargin

  /** Shared language-ID replay: CTEs ending in `lp(doc_id, lang_pred)`
    * plus the scores CTE `s` — reused by the q_lang_id oracle and the
    * X134 classifier-report oracle.
    */
  private def langPredCtes: String = {
    val scores = TextAnalysis.langProfiles.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, x -> list_contains([$lst], x)))::BIGINT AS score_$lang"
    }
    val names = TextAnalysis.langProfiles.map { case (l, _) => s"score_$l" }
    val top = s"greatest(${names.mkString(", ")})"
    val cases = TextAnalysis.langProfiles.map { case (lang, _) =>
      s"WHEN score_$lang = $top THEN '$lang'"
    }
    s"""t AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
       |), s AS (
       |  SELECT doc_id, ${scores.mkString(",\n    ")}
       |  FROM t
       |), lp AS (
       |  SELECT doc_id,
       |    CASE WHEN $top = 0 THEN 'und'
       |      ${cases.mkString("\n      ")}
       |      ELSE 'und' END AS lang_pred
       |  FROM s
       |)""".stripMargin
  }

  private def langOracle: String = {
    val names = TextAnalysis.langProfiles.map { case (l, _) => s"score_$l" }
    "WITH " + langPredCtes +
    s"""
       |SELECT s.doc_id, ${names.map(n => s"s.$n").mkString(", ")}, lp.lang_pred
       |FROM s JOIN lp ON lp.doc_id = s.doc_id
       |ORDER BY s.doc_id""".stripMargin
  }

  /** The ONE X108 score/label frame both evaluation queries consume:
    * unigram fluency scores joined to is-English labels — defined
    * once so the AUC and the PR curve can never silently evaluate
    * different gates.
    */
  private def evalPair(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    TfIdf.unigramLogProb(d, "text", "doc_id").join(
      d.select(col("doc_id"),
        (TextAnalysis.langId(col("text")) === "en").as("is_en"),
        col("source")),
      Seq("doc_id"))
  }

  /** X109's score/label pair: the en-stopword token FRACTION read as
    * P(en) (a [0,1] ratio of exact integer counts — replayable
    * division, no transcendental) against the lang-ID label. One
    * projection over one scan; the `n_tokens > 0` guard keeps the
    * division NULL-free identically in both engines.
    */
  private def calibrationPair(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val t = TextAnalysis.tokens(col("text"))
    // keyed, not positional: head would silently re-target if a
    // language were ever prepended to langProfiles while the oracle
    // still replays score_en
    val scoreEn = TextAnalysis.langScores(col("text"))
      .find(_._1 == "score_en")
      .getOrElse(sys.error("langScores no longer emits score_en"))._2
    d.filter(size(t) > 0).select(
      col("doc_id"),
      (scoreEn.cast("double") / size(t).cast("double")).as("p_en"),
      (TextAnalysis.langId(col("text")) === "en").as("is_en"))
  }

  /** Shared labeled-score CTE chain for the X108 evaluation pair:
    * language-ID labels + unigram fluency scores + the per-distinct-
    * score class counts `g(s, p, n)`. KEEP IN SYNC, deliberately
    * duplicated: the lang-scoring SQL mirrors [[langOracle]] /
    * [[corpusHealthOracle]] and the score CTEs mirror
    * AnalyticsQueries' q_unigram_logprob oracle — a change to
    * `TextAnalysis.langProfiles` scoring or the unigram model must
    * land in all of them (each stays hash-checked against the same
    * engine ops, so a missed sync fails CORRECTNESS loudly).
    * `groupCol` slices the class counts by a documents column for the
    * X112 per-group form — `g(group, s, p, n)` instead of `g(s, p, n)`.
    */
  private def evalScoreCtes: String = evalScoreCtesBy(None)

  private def evalScoreCtesBy(groupCol: Option[String]): String = {
    val scores = TextAnalysis.langProfiles.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, x -> list_contains([$lst], x)))::BIGINT AS score_$lang"
    }
    val names = TextAnalysis.langProfiles.map { case (l, _) => s"score_$l" }
    val top = s"greatest(${names.mkString(", ")})"
    val cases = TextAnalysis.langProfiles.map { case (lang, _) =>
      s"WHEN score_$lang = $top THEN '$lang'"
    }
    s"""WITH t AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
       |), ls AS (
       |  SELECT doc_id, ${scores.mkString(",\n    ")}
       |  FROM t
       |), lang AS (
       |  SELECT doc_id,
       |    CASE WHEN $top = 0 THEN 'und'
       |      ${cases.mkString("\n      ")}
       |      ELSE 'und' END AS lang_pred
       |  FROM ls
       |), tok AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
       |), c AS (
       |  SELECT term, count(*) AS tc FROM tok GROUP BY 1
       |), tt AS (
       |  SELECT count(*) AS total FROM tok
       |), uni AS (
       |  SELECT doc_id, round(avg(ln(tc::DOUBLE / total)), 4) AS s
       |  FROM tok JOIN c USING (term) CROSS JOIN tt GROUP BY doc_id
       |), ev AS (
       |  SELECT ${groupCol.map(c => s"d.$c, ").getOrElse("")}u.s, (l.lang_pred = 'en') AS y
       |  FROM uni u JOIN lang l USING (doc_id)${groupCol.map(_ => " JOIN documents d USING (doc_id)").getOrElse("")}
       |), g AS (
       |  SELECT ${groupCol.map(c => s"$c, ").getOrElse("")}s, sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS p,
       |    sum(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS n
       |  FROM ev GROUP BY ${groupCol.map(c => s"$c, ").getOrElse("")}s
       |)""".stripMargin
  }

  /** X112 sliced-AUC oracle: [[evalScoreCtesBy]] grouped by source,
    * the cumulative window partitioned per group, then the grouped
    * Mann–Whitney sum — [[filterAucOracle]]'s arithmetic per stratum.
    */
  private def slicedAucOracle: String = evalScoreCtesBy(Some("source")) +
    s""", cw AS (
       |  SELECT source, p, n,
       |    coalesce(sum(n) OVER (PARTITION BY source ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
       |  FROM g
       |)
       |SELECT source, sum(p)::BIGINT AS n_pos, sum(n)::BIGINT AS n_neg,
       |  CASE WHEN sum(p) > 0 AND sum(n) > 0
       |    THEN round(sum(p::DOUBLE * (nb::DOUBLE + n::DOUBLE / 2.0))
       |               / (sum(p)::DOUBLE * sum(n)::DOUBLE), 6) END AS auc
       |FROM cw GROUP BY source ORDER BY source""".stripMargin

  /** X108 AUC oracle: grouped Mann–Whitney over [[evalScoreCtes]] —
    * `Σ_s p(s)·(negBelow(s) + n(s)/2) / (P·N)`, every summand a
    * multiple of ½ so the sum is order-exact cross-engine.
    */
  private def filterAucOracle: String = evalScoreCtes +
    s""", cw AS (
       |  SELECT p, n,
       |    coalesce(sum(n) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
       |  FROM g
       |)
       |SELECT sum(p)::BIGINT AS n_pos, sum(n)::BIGINT AS n_neg,
       |  CASE WHEN sum(p) > 0 AND sum(n) > 0
       |    THEN round(sum(p::DOUBLE * (nb::DOUBLE + n::DOUBLE / 2.0))
       |               / (sum(p)::DOUBLE * sum(n)::DOUBLE), 6) END AS auc
       |FROM cw""".stripMargin

  /** X108 threshold-sweep oracle: [[filterAucOracle]]'s labeled-score
    * CTEs, then cumulative confusion counts over the distinct-score
    * frame ordered descending; F1 from the UNROUNDED ratios.
    */
  private def prCurveOracle: String = evalScoreCtes +
    s""", cw AS (
       |  SELECT s,
       |    sum(p) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS tp,
       |    sum(n) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS fp,
       |    sum(p) OVER ()::BIGINT AS ptot
       |  FROM g
       |)
       |SELECT s AS threshold, tp, fp,
       |  round(tp::DOUBLE / (tp + fp)::DOUBLE, 6) AS precision,
       |  round(tp::DOUBLE / ptot::DOUBLE, 6) AS recall,
       |  CASE WHEN tp::DOUBLE / (tp + fp)::DOUBLE + tp::DOUBLE / ptot::DOUBLE > 0
       |    THEN round(2.0 * (tp::DOUBLE / (tp + fp)::DOUBLE) * (tp::DOUBLE / ptot::DOUBLE)
       |               / (tp::DOUBLE / (tp + fp)::DOUBLE + tp::DOUBLE / ptot::DOUBLE), 6)
       |    ELSE 0.0 END AS f1
       |FROM cw WHERE ptot > 0 ORDER BY threshold DESC""".stripMargin

  /** X109 shared CTEs: the en-stopword-fraction score and lang-ID
    * label per doc, then the clamp / fixed-bin / 1e-4-fixed-point
    * quantize / group pipeline of [[graft.ops.Curation.calibrationBins]]
    * — every aggregate an exact integer sum, replayed operand for
    * operand.
    */
  private def calibrationCtes: String = {
    val scores = TextAnalysis.langProfiles.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, x -> list_contains([$lst], x)))::BIGINT AS score_$lang"
    }
    val names = TextAnalysis.langProfiles.map { case (l, _) => s"score_$l" }
    val top = s"greatest(${names.mkString(", ")})"
    val cases = TextAnalysis.langProfiles.map { case (lang, _) =>
      s"WHEN score_$lang = $top THEN '$lang'"
    }
    s"""WITH t AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
       |), ls AS (
       |  SELECT doc_id, ${scores.mkString(",\n    ")}, len(toks)::BIGINT AS nt
       |  FROM t
       |), pair AS (
       |  SELECT score_en::DOUBLE / nt::DOUBLE AS s,
       |    (CASE WHEN $top = 0 THEN 'und'
       |      ${cases.mkString("\n      ")}
       |      ELSE 'und' END) = 'en' AS y
       |  FROM ls WHERE nt > 0
       |), b AS (
       |  SELECT least(floor(least(greatest(s, 0.0), 1.0) * 10), 9)::BIGINT AS bin,
       |    round(least(greatest(s, 0.0), 1.0) * 10000)::BIGINT AS sfp, y
       |  FROM pair
       |), g AS (
       |  SELECT bin, count(*)::BIGINT AS n,
       |    sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS n_pos,
       |    sum(sfp)::BIGINT AS sfp
       |  FROM b GROUP BY 1
       |)""".stripMargin
  }

  /** X109 reliability-table oracle over [[calibrationCtes]]. */
  private def calibrationOracle: String = calibrationCtes +
    s"""
       |SELECT bin, round(bin / 10.0, 6) AS bin_lo,
       |  round((bin + 1) / 10.0, 6) AS bin_hi, n, n_pos,
       |  round(sfp::DOUBLE / (n * 10000.0), 6) AS mean_score,
       |  round(n_pos::DOUBLE / n::DOUBLE, 6) AS pos_rate,
       |  round(abs(sfp - 10000 * n_pos)::DOUBLE / (n * 10000.0), 6) AS gap
       |FROM g ORDER BY bin""".stripMargin

  /** X109 ECE/MCE oracle: the same bins summarized to one row. */
  private def calibrationErrorOracle: String = calibrationCtes +
    s"""
       |SELECT coalesce(sum(n), 0)::BIGINT AS n,
       |  coalesce(sum(n_pos), 0)::BIGINT AS n_pos,
       |  CASE WHEN coalesce(sum(n), 0) > 0
       |    THEN round(sum(abs(sfp - 10000 * n_pos))::DOUBLE / (sum(n) * 10000.0), 6) END AS ece,
       |  CASE WHEN coalesce(sum(n), 0) > 0
       |    THEN round(max(abs(sfp - 10000 * n_pos)::DOUBLE / (n * 10000.0)), 6) END AS mce
       |FROM g""".stripMargin

  /** X110 shared CTEs: both corpora's unigram counts (src0 vs the
    * rest), the full-outer per-term frame, and each term's JS
    * contribution quantized to a 1e-9 fixed-point BIGINT — operand
    * order mirrors [[graft.ops.TfIdf.jsTermFrame]] exactly (pa, pb,
    * m, the two guarded `p·ln(p/m)` halves, the 0.5 factor, the 1e9
    * scale); per-term totals are non-negative by the log-sum
    * inequality, so HALF_UP and half-away-from-zero rounding agree.
    */
  private def jsCtes: String =
    s"""WITH t AS (
       |  SELECT source, string_split(lower(text), ' ') AS toks FROM documents
       |), tok AS (
       |  SELECT source, unnest(toks) AS term FROM t
       |), ca AS (
       |  SELECT term, count(*)::BIGINT AS c FROM tok WHERE source = 'src0' GROUP BY 1
       |), cb AS (
       |  SELECT term, count(*)::BIGINT AS c FROM tok WHERE source <> 'src0' GROUP BY 1
       |), tot AS (
       |  SELECT (SELECT coalesce(sum(c), 0) FROM ca)::DOUBLE AS na,
       |         (SELECT coalesce(sum(c), 0) FROM cb)::DOUBLE AS nb
       |), j AS (
       |  SELECT coalesce(ca.term, cb.term) AS term,
       |    coalesce(ca.c, 0) AS c_a, coalesce(cb.c, 0) AS c_b
       |  FROM ca FULL OUTER JOIN cb ON ca.term = cb.term
       |), q AS (
       |  SELECT term, c_a, c_b,
       |    round(0.5 * (
       |      CASE WHEN c_a > 0 THEN (c_a::DOUBLE / na)
       |        * ln((c_a::DOUBLE / na) / ((c_a::DOUBLE / na + c_b::DOUBLE / nb) / 2.0))
       |        ELSE 0.0 END +
       |      CASE WHEN c_b > 0 THEN (c_b::DOUBLE / nb)
       |        * ln((c_b::DOUBLE / nb) / ((c_a::DOUBLE / na + c_b::DOUBLE / nb) / 2.0))
       |        ELSE 0.0 END) * 1e9)::BIGINT AS cq
       |  FROM j CROSS JOIN tot
       |)""".stripMargin

  /** X110 one-row divergence oracle over [[jsCtes]]. */
  private def jsDivergenceOracle: String = jsCtes +
    s"""
       |SELECT count(*)::BIGINT AS n_terms,
       |  coalesce(sum(c_a), 0)::BIGINT AS total_a,
       |  coalesce(sum(c_b), 0)::BIGINT AS total_b,
       |  CASE WHEN coalesce(sum(c_a), 0) > 0 AND coalesce(sum(c_b), 0) > 0
       |    THEN round(coalesce(sum(cq), 0)::DOUBLE / 1e9 / 0.6931471805599453, 6)
       |  END AS js_bits
       |FROM q""".stripMargin

  /** X110 drill-down oracle: top-25 contributing terms. */
  private def divergingTermsOracle: String = jsCtes +
    s"""
       |SELECT term, c_a AS count_a, c_b AS count_b,
       |  round(cq::DOUBLE / 1e9 / 0.6931471805599453, 9) AS contrib_bits
       |FROM q ORDER BY contrib_bits DESC, term LIMIT 25""".stripMargin

  /** Per-source health rollup oracle: statsOracle's per-doc signal
    * replay + langOracle's profile scoring, grouped by source.
    */
  private def corpusHealthOracle: String = {
    val scores = TextAnalysis.langProfiles.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, x -> list_contains([$lst], x)))::BIGINT AS score_$lang"
    }
    val names = TextAnalysis.langProfiles.map { case (l, _) => s"score_$l" }
    val top = s"greatest(${names.mkString(", ")})"
    val cases = TextAnalysis.langProfiles.map { case (lang, _) =>
      s"WHEN score_$lang = $top THEN '$lang'"
    }
    s"""WITH t AS (
       |  SELECT doc_id, source, text, string_split(lower(text), ' ') AS toks FROM documents
       |), s AS (
       |  SELECT doc_id, source,
       |    len(toks)::BIGINT AS n_tokens,
       |    round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
       |          / length(text)::DOUBLE, 4) AS alpha_ratio,
       |    round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE
       |          / len(toks)::DOUBLE, 4) AS avg_token_len,
       |    ${scores.mkString(",\n    ")}
       |  FROM t
       |), q AS (
       |  SELECT *,
       |    (n_tokens >= 5 AND n_tokens <= 5000 AND alpha_ratio >= 0.5
       |     AND avg_token_len >= 2.0 AND avg_token_len <= 20.0) AS is_quality,
       |    CASE WHEN $top = 0 THEN 'und'
       |      ${cases.mkString("\n      ")}
       |      ELSE 'und' END AS lang_pred
       |  FROM s
       |)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  round(avg(alpha_ratio), 4) AS avg_alpha_ratio,
       |  count(CASE WHEN is_quality THEN 1 END) AS n_quality,
       |  count(CASE WHEN lang_pred = 'en' THEN 1 END) AS n_en
       |FROM q GROUP BY 1 ORDER BY source""".stripMargin
  }

  /** Shared CTE prefix replicating shingles → base hashes → MinHash
    * signatures → LSH bands → candidate pairs → estimates, with the
    * same constants as [[Dedup]]. With `maxBucket > 0`, buckets above
    * the cap are removed before pairing — replaying
    * [[Dedup.candidatePairs]]' skew guard exactly.
    */
  /** The shared MinHash replay prefix: documents → shingles → base
    * hashes → k-slot `sig` arrays → (doc_id, band, band_hash) `bands`
    * rows. Ends INSIDE the `bands` CTE (no closing paren) so callers
    * append their own pairing tail — [[minhashCtes]] for same-corpus
    * a<b pairs, [[incrementalOracle]] for the store-vs-increment join.
    */
  private def minhashBandsCtes(k: Int, bands: Int): String = {
    val r = k / bands
    val mins = (0 until k).map { i =>
      s"list_min(list_transform(bases, x -> (x * ${Dedup.minhashA(i)} + ${Dedup.minhashB(i)}) % ${Dedup.minhashP}))"
    }
    val bandConcat = (1 to r)
      .map(j => s"sig[b.band*$r+$j]::VARCHAR")
      .mkString(" || ',' || ")
    s"""WITH docs AS (
       |  SELECT doc_id, lower(text) AS t FROM documents
       |), tok AS (
       |  SELECT doc_id, t, string_split(t, ' ') AS toks FROM docs
       |), sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 3 THEN [t]
       |         ELSE list_transform(generate_series(1, len(toks)-2),
       |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS shingles
       |  FROM tok
       |), bases_t AS (
       |  SELECT doc_id,
       |    list_transform(shingles, x -> ('0x' || substr(md5(x),1,7))::BIGINT) AS bases
       |  FROM sh
       |), sig AS (
       |  SELECT doc_id, [${mins.mkString(",\n    ")}] AS sig FROM bases_t
       |), bands AS (
       |  SELECT doc_id, b.band, md5($bandConcat) AS band_hash
       |  FROM sig, LATERAL (SELECT unnest(generate_series(0,${bands - 1})) AS band) b""".stripMargin
  }

  private def minhashCtes(k: Int, bands: Int, maxBucket: Int = 0): String = {
    val pairSource =
      if (maxBucket > 0)
        s"""), kept AS (
           |  SELECT band, band_hash FROM bands
           |  GROUP BY 1, 2 HAVING count(*) <= $maxBucket
           |), bands_b AS (
           |  SELECT b.* FROM bands b JOIN kept USING (band, band_hash)""".stripMargin
      else "), bands_b AS (\n  SELECT * FROM bands"
    minhashBandsCtes(k, bands) +
      s"""
       |$pairSource
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands_b x JOIN bands_b y
       |    ON x.band = y.band AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
       |), est AS (
       |  SELECT c.a, c.b,
       |    len(list_filter(generate_series(1,$k), i -> sa.sig[i] = sb.sig[i])) / $k.0 AS est_jaccard
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.a
       |  JOIN sig sb ON sb.doc_id = c.b
       |)""".stripMargin
  }

  /** X48 oracle: replays [[Dedup.nearDupPairsAgainst]] — history
    * (doc_id < `split`) contributes only its signature/band projection
    * (the store side), the increment (doc_id ≥ `split`) band-joins
    * against it, and the signature-estimated Jaccard thresholds the
    * matches. Shares [[minhashBandsCtes]] verbatim with the
    * same-corpus oracles, so any drift in the MinHash replay shows up
    * in both query families at once.
    */
  private def incrementalCtes(k: Int, bands: Int, split: Long): String =
    minhashBandsCtes(k, bands) +
      s"""
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS old_id, y.doc_id AS new_id
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_hash = y.band_hash
       |  WHERE x.doc_id < $split AND y.doc_id >= $split
       |), est AS (
       |  SELECT c.old_id, c.new_id,
       |    len(list_filter(generate_series(1,$k), i -> sa.sig[i] = sb.sig[i])) / $k.0 AS est_jaccard
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.old_id
       |  JOIN sig sb ON sb.doc_id = c.new_id
       |)""".stripMargin

  private def incrementalOracle(
      k: Int, bands: Int, split: Long, threshold: Double): String =
    incrementalCtes(k, bands, split) +
      s"""
       |SELECT old_id, new_id, est_jaccard
       |FROM est WHERE est_jaccard >= $threshold
       |ORDER BY old_id, new_id""".stripMargin

  /** X48 capped replay: each side's buckets are counted and capped
    * INDEPENDENTLY (store rows per bucket, increment rows per bucket)
    * before the cross join — mirroring the engine's per-side
    * `capped(lshBands(...))`, the same semantics fuzzyTextJoin caps
    * carry. */
  private def incrementalCappedOracle(
      k: Int, bands: Int, split: Long, threshold: Double, cap: Int): String =
    minhashBandsCtes(k, bands) +
      s"""
       |), bo AS (
       |  SELECT * FROM bands WHERE doc_id < $split
       |), bn AS (
       |  SELECT * FROM bands WHERE doc_id >= $split
       |), ko AS (
       |  SELECT band, band_hash FROM bo GROUP BY 1, 2 HAVING count(*) <= $cap
       |), kn AS (
       |  SELECT band, band_hash FROM bn GROUP BY 1, 2 HAVING count(*) <= $cap
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS old_id, y.doc_id AS new_id
       |  FROM (SELECT b.* FROM bo b JOIN ko USING (band, band_hash)) x
       |  JOIN (SELECT b.* FROM bn b JOIN kn USING (band, band_hash)) y
       |    ON x.band = y.band AND x.band_hash = y.band_hash
       |), est AS (
       |  SELECT c.old_id, c.new_id,
       |    len(list_filter(generate_series(1,$k), i -> sa.sig[i] = sb.sig[i])) / $k.0 AS est_jaccard
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.old_id
       |  JOIN sig sb ON sb.doc_id = c.new_id
       |)
       |SELECT old_id, new_id, est_jaccard
       |FROM est WHERE est_jaccard >= $threshold
       |ORDER BY old_id, new_id""".stripMargin

  /** X48 keep-set replay: increment docs with no ≥-threshold match in
    * the store survive (keep-old-drop-new). */
  private def incrementalSurvivorsOracle(
      k: Int, bands: Int, split: Long, threshold: Double): String =
    incrementalCtes(k, bands, split) +
      s"""
       |SELECT doc_id FROM documents
       |WHERE doc_id >= $split
       |  AND doc_id NOT IN (SELECT new_id FROM est WHERE est_jaccard >= $threshold)
       |ORDER BY doc_id""".stripMargin

  /** The curation pipeline's stage tail — quality gate →
    * decontamination → source mixing → sequence packing — shared by
    * the demo composition (q_pipeline_curation, keep-min-id, uncapped)
    * and the production one (q_pipeline_curation_best, bucket-capped,
    * keep-best). Opens by CLOSING the caller's `surv` CTE, which must
    * select the dedup-surviving corpus doc_ids; references the shared
    * `sh` shingle CTE from [[minhashBandsCtes]] for decontamination.
    */
  private def pipelineTailSql: String = pipelineMidSql + pipelineSelectSql

  /** Quality gate → decontamination → mix → pack, up to and including
    * the `packed` CTE — shared between the curation pipelines (which
    * close it with [[pipelineSelectSql]]) and the corpus build (which
    * continues through split + curriculum in [[corpusTailSql]]).
    */
  private def pipelineMidSql: String =
    s"""
       |), stats AS (
       |  SELECT doc_id, source,
       |    len(string_split(lower(text), ' '))::BIGINT AS n_tokens,
       |    length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
       |      / length(text)::DOUBLE AS alpha_ratio,
       |    list_sum(list_transform(string_split(lower(text), ' '), x -> length(x)))::DOUBLE
       |      / len(string_split(lower(text), ' '))::DOUBLE AS avg_token_len,
       |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS bpe_tokens
       |  FROM documents
       |), kept AS (
       |  SELECT st.* FROM stats st JOIN surv USING (doc_id)
       |  WHERE n_tokens >= 5 AND n_tokens <= 5000 AND alpha_ratio >= 0.5
       |    AND avg_token_len >= 2.0 AND avg_token_len <= 20.0
       |), ex AS (
       |  SELECT doc_id, unnest(list_distinct(shingles)) AS g FROM sh
       |), contaminated AS (
       |  SELECT c.doc_id FROM ex c JOIN ex b ON c.g = b.g
       |  WHERE c.doc_id >= $pipelineBenchCut AND b.doc_id < $pipelineBenchCut
       |  GROUP BY c.doc_id, b.doc_id HAVING count(*) >= 2
       |), clean AS (
       |  SELECT k.* FROM kept k
       |  WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM contaminated)
       |), mix AS (
       |  SELECT *,
       |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS mix_tokens_before
       |  FROM (
       |    SELECT *, ('0x' || substr(md5('13|' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
       |    FROM clean WHERE source IN ('src0', 'src1', 'src7')
       |  )
       |), mixkept AS (
       |  SELECT * FROM mix
       |  WHERE mix_tokens_before < CASE source WHEN 'src0' THEN 1000 ELSE 500 END
       |), packed AS (
       |  SELECT *,
       |    CAST(COALESCE(sum(bpe_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
       |  FROM mixkept
       |)""".stripMargin

  private def pipelineSelectSql: String =
    """
      |SELECT doc_id, source, n_tokens, bpe_tokens, mix_tokens_before,
      |  cum // 512 AS pack_id, cum % 512 AS pack_offset
      |FROM packed ORDER BY doc_id""".stripMargin

  /** Split + curriculum on top of [[pipelineMidSql]]'s `packed`:
    * the bucket-of-10k split thresholds (assignSplit replay, seed 42)
    * and the q_curriculum log-histogram CDF — computed over the TRAIN
    * slice only, exactly like [[graft.pipeline.CorpusBuild]] — joined
    * back so val/test rows carry NULL pctl_r/phase.
    */
  private def corpusTailSql: String =
    """, packrow AS (
      |  SELECT doc_id, source, n_tokens, bpe_tokens, mix_tokens_before,
      |    cum // 512 AS pack_id, cum % 512 AS pack_offset
      |  FROM packed
      |), spl AS (
      |  SELECT *, CASE WHEN bucket < 8000 THEN 'train'
      |                 WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split
      |  FROM (SELECT *,
      |    ('0x' || substr(md5('42|' || doc_id::VARCHAR), 1, 15))::BIGINT % 10000 AS bucket
      |    FROM packrow)
      |), cv AS (
      |  SELECT doc_id, CAST(round(n_tokens::DOUBLE * 1e6) AS BIGINT) AS qv
      |  FROM spl WHERE split = 'train'
      |), cb AS (
      |  SELECT doc_id, m,
      |    CASE WHEN m <= 4 THEN qv ELSE (qv >> (m - 1 - 3)) & 7 END AS sub
      |  FROM (SELECT doc_id, qv, length(bin(qv))::INTEGER AS m
      |        FROM cv WHERE qv IS NOT NULL AND qv >= 0)
      |), ch AS (
      |  SELECT m, sub, count(*)::BIGINT AS n FROM cb GROUP BY 1, 2
      |), ccdf AS (
      |  SELECT m, sub,
      |    CAST(sum(n) OVER (ORDER BY m, sub) AS BIGINT)::DOUBLE /
      |    CAST(sum(n) OVER () AS BIGINT)::DOUBLE AS pctl
      |  FROM ch
      |), cph AS (
      |  SELECT cb.doc_id, round(ccdf.pctl, 6) AS pctl_r,
      |    CASE WHEN ccdf.pctl <= sqrt(1e0/4e0) THEN 1
      |         WHEN ccdf.pctl <= sqrt(2e0/4e0) THEN 2
      |         WHEN ccdf.pctl <= sqrt(3e0/4e0) THEN 3 ELSE 4 END AS phase
      |  FROM cb JOIN ccdf ON ccdf.m = cb.m AND ccdf.sub = cb.sub
      |)
      |SELECT s.doc_id, s.source, s.n_tokens, s.bpe_tokens, s.mix_tokens_before,
      |  s.pack_id, s.pack_offset, s.bucket, s.split, p.pctl_r, p.phase
      |FROM spl s LEFT JOIN cph p ON p.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin

  /** Production-shape dedup stage for q_pipeline_curation_best: the
    * bucket cap counts CORPUS-side rows only (the engine caps buckets
    * of the frame it dedups, so restricting to doc_id ≥ cut must
    * happen BEFORE the count — [[minhashCtes]]'s full-table cap would
    * diverge), then keep-best drops the lower-BPE-priority member of
    * every surviving pair (ties: larger id), replaying
    * [[Dedup.dedupNearBy]] + `maxBucketSize` inside the composition.
    * Leaves `surv` open for [[pipelineTailSql]] to close.
    */
  private def pipelineBestSurvCtes(cap: Int): String =
    s"""
       |), bands_c AS (
       |  SELECT * FROM bands WHERE doc_id >= $pipelineBenchCut
       |), keptbk AS (
       |  SELECT band, band_hash FROM bands_c
       |  GROUP BY 1, 2 HAVING count(*) <= $cap
       |), bands_b AS (
       |  SELECT b.* FROM bands_c b JOIN keptbk USING (band, band_hash)
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands_b x JOIN bands_b y
       |    ON x.band = y.band AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
       |), est AS (
       |  SELECT c.a, c.b,
       |    len(list_filter(generate_series(1,16), i -> sa.sig[i] = sb.sig[i])) / 16.0 AS est_jaccard
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.a
       |  JOIN sig sb ON sb.doc_id = c.b
       |), pr AS (
       |  SELECT doc_id,
       |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS prio
       |  FROM documents
       |), losers AS (
       |  -- NULL priority loses to any non-NULL (engine policy,
       |  -- Dedup.dedupNearBy); both-NULL falls through to the id tie
       |  SELECT DISTINCT CASE
       |    WHEN pa.prio IS NULL AND pb.prio IS NOT NULL THEN e.a
       |    WHEN pb.prio IS NULL AND pa.prio IS NOT NULL THEN e.b
       |    WHEN pa.prio < pb.prio THEN e.a
       |    WHEN pb.prio < pa.prio THEN e.b
       |    ELSE greatest(e.a, e.b) END AS doc_id
       |  FROM est e
       |  JOIN pr pa ON pa.doc_id = e.a
       |  JOIN pr pb ON pb.doc_id = e.b
       |  WHERE e.est_jaccard >= 0.5
       |), surv AS (
       |  SELECT doc_id FROM documents
       |  WHERE doc_id >= $pipelineBenchCut
       |    AND doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin

  private def simhashOracle(bits: Int): String = {
    val sums = (0 until bits)
      .map(j => s"sum(((h >> $j) & 1)*2 - 1) AS bit_$j")
      .mkString(",\n    ")
    val assemble = (0 until bits)
      .map(j => s"CASE WHEN bit_$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
       |), h AS (
       |  SELECT doc_id, ('0x' || substr(md5('0|' || tok),1,15))::BIGINT AS h FROM tok
       |), s AS (
       |  SELECT doc_id, $sums
       |  FROM h GROUP BY doc_id
       |)
       |SELECT doc_id, $assemble AS simhash FROM s ORDER BY doc_id""".stripMargin
  }

  private def similarityOracle: String = {
    def dotSql(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${embeddingDim + 1}), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"
    s"""WITH e AS (
       |  SELECT vec_id, embedding FROM embeddings
       |), q AS (
       |  SELECT vec_id AS qid, embedding AS qvec FROM e WHERE vec_id < $simQueryIds
       |), scored AS (
       |  SELECT q.qid, c.vec_id AS nid,
       |    ${dotSql("qvec", "c.embedding")} /
       |    (sqrt(${dotSql("qvec", "qvec")}) * sqrt(${dotSql("c.embedding", "c.embedding")})) AS sim
       |  FROM q JOIN e c ON c.vec_id <> q.qid
       |), ranked AS (
       |  SELECT qid, nid, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
       |  FROM scored
       |)
       |SELECT qid, CAST(rank AS INTEGER) AS rank, nid, round(sim, 4) AS sim_r
       |FROM ranked WHERE rank <= $simK ORDER BY qid, rank""".stripMargin
  }

  /** Shared DuckDB fragment: exact double-fold dot product. */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${embeddingDim + 1}), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"

  /** Shared DuckDB fragment: exact cosine + top-k re-rank over a
    * `cand(qid, nid)` CTE — identical to the brute-force oracle's
    * scoring, applied to the candidate set.
    */
  private def rerankSql: String =
    s""", scored AS (
       |  SELECT cand.qid, cand.nid,
       |    ${dotSql("qv.embedding", "nv.embedding")} /
       |    (sqrt(${dotSql("qv.embedding", "qv.embedding")}) * sqrt(${dotSql("nv.embedding", "nv.embedding")})) AS sim
       |  FROM cand
       |  JOIN embeddings qv ON qv.vec_id = cand.qid
       |  JOIN embeddings nv ON nv.vec_id = cand.nid
       |), ranked AS (
       |  SELECT qid, nid, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
       |  FROM scored
       |)
       |SELECT qid, CAST(rank AS INTEGER) AS rank, nid, round(sim, 4) AS sim_r
       |FROM ranked WHERE rank <= $simK ORDER BY qid, rank""".stripMargin

  /** Shared DuckDB fragment: md5-derived hyperplanes
    * ([[Similarity.hyperplane]]: first 15 md5 hex chars of
    * "table|bit|dim" scaled to [-1, 1)) and per-(vec, table) LSH sign
    * buckets over `src` — the signature pipeline both ANN oracles
    * replay. `src` must expose (vec_id, embedding).
    */
  private def annBucketCtes(src: String): String =
    s"""hp AS (
       |  SELECT t.t, b.b,
       |    list_transform(generate_series(0, ${embeddingDim - 1}),
       |      d -> (('0x' || substr(md5(t.t::VARCHAR || '|' || b.b::VARCHAR || '|' || d::VARCHAR), 1, 15))::BIGINT)::DOUBLE
       |           / ${1L << 59}.0 - 1.0) AS w
       |  FROM (SELECT unnest(generate_series(0, ${annTables - 1})) AS t) t,
       |       (SELECT unnest(generate_series(0, ${annBits - 1})) AS b) b
       |), buck AS (
       |  SELECT e.vec_id, hp.t AS tbl,
       |    sum(CASE WHEN list_sum(list_transform(range(1, ${embeddingDim + 1}),
       |                    i -> hp.w[i] * e.embedding[i]::DOUBLE)) >= 0
       |             THEN (1 << hp.b) ELSE 0 END)::INTEGER AS bucket
       |  FROM $src e CROSS JOIN hp
       |  GROUP BY e.vec_id, hp.t
       |)""".stripMargin

  /** LSH ANN oracle: replays signature → bucket → candidate
    * generation, then exact-cosine re-ranks — the same deterministic
    * pipeline the engine runs.
    */
  private def annOracle: String =
    "WITH " + annBucketCtes("embeddings") +
    s""", cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
       |  FROM buck q JOIN buck c ON q.tbl = c.tbl AND q.bucket = c.bucket
       |  WHERE q.vec_id < $simQueryIds AND q.vec_id <> c.vec_id
       |)""".stripMargin + rerankSql

  /** [[Similarity.annNearDupPairs]] replay over the bounded subset:
    * same-bucket (a < b) candidate pairs, deduped, then exact cosine.
    * The engine's salt sub-key needs no replay — the left side carries
    * ONE salt and the right side replicates across all of them, so
    * exactly one salt matches per same-bucket pair and the candidate
    * set is salt-invariant (pinned in SimilaritySpec).
    */
  private def annNearDupCtes: String =
    s"""WITH sub AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < $semSubsetIds
       |), """.stripMargin + annBucketCtes("sub") +
    s""", cand AS (
       |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM buck x JOIN buck y
       |    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
       |), scored AS (
       |  SELECT c.a, c.b,
       |    ${dotSql("av.embedding", "bv.embedding")} /
       |    (sqrt(${dotSql("av.embedding", "av.embedding")}) * sqrt(${dotSql("bv.embedding", "bv.embedding")})) AS sim
       |  FROM cand c
       |  JOIN sub av ON av.vec_id = c.a
       |  JOIN sub bv ON bv.vec_id = c.b
       |)""".stripMargin

  /** Quantized-store ANN oracle: DuckDB replays quantize → int8 →
    * dequantize-to-REAL (IEEE round-to-nearest-even, matching the
    * JVM's double→float cast) and then the same bucket → candidate →
    * exact-cosine pipeline as [[annOracle]], scoring against the
    * RECONSTRUCTED vectors on both sides.
    */
  private def annQ8Oracle: String =
    s"""WITH dq AS (
       |  SELECT vec_id,
       |    list_transform(q8, x -> CAST(x::DOUBLE * scale AS REAL)) AS embedding
       |  FROM (
       |    SELECT vec_id, scale,
       |      CASE WHEN scale = 0 THEN list_transform(embedding, v -> 0)
       |           ELSE list_transform(embedding,
       |                  v -> CAST(round(v::DOUBLE / scale) AS INTEGER)) END AS q8
       |    FROM (
       |      SELECT vec_id, embedding,
       |        list_max(list_transform(embedding, v -> abs(v::DOUBLE))) / 127.0 AS scale
       |      FROM embeddings))
       |), """.stripMargin + annBucketCtes("dq") +
    s""", cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
       |  FROM buck q JOIN buck c ON q.tbl = c.tbl AND q.bucket = c.bucket
       |  WHERE q.vec_id < $simQueryIds AND q.vec_id <> c.vec_id
       |), scored AS (
       |  SELECT cand.qid, cand.nid,
       |    ${dotSql("qv.embedding", "nv.embedding")} /
       |    (sqrt(${dotSql("qv.embedding", "qv.embedding")}) * sqrt(${dotSql("nv.embedding", "nv.embedding")})) AS sim
       |  FROM cand
       |  JOIN dq qv ON qv.vec_id = cand.qid
       |  JOIN dq nv ON nv.vec_id = cand.nid
       |), ranked AS (
       |  SELECT qid, nid, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
       |  FROM scored
       |)
       |SELECT qid, CAST(rank AS INTEGER) AS rank, nid, round(sim, 4) AS sim_r
       |FROM ranked WHERE rank <= $simK ORDER BY qid, rank""".stripMargin

  /** IVF oracle: centroids = the `ivfCentroids` lowest-vec_id corpus
    * vectors (the engine's deterministic quantizer seed), corpus rows
    * assign to their best-dot centroid (first index wins ties),
    * queries probe their `ivfProbe` best centroids, exact cosine
    * re-ranks — replaying [[Similarity.ivfTopK]] step for step.
    */
  private def ivfOracle: String =
    s"""WITH cent AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS idx,
       |    embedding AS cvec
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $ivfCentroids)
       |), cd AS (
       |  SELECT e.vec_id, c.idx,
       |    ${dotSql("c.cvec", "e.embedding")} AS d
       |  FROM embeddings e CROSS JOIN cent c
       |), assign AS (
       |  SELECT vec_id AS nid, idx AS centroid FROM (
       |    SELECT vec_id, idx,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, idx) AS rn
       |    FROM cd
       |  ) WHERE rn = 1
       |), probes AS (
       |  SELECT vec_id AS qid, idx AS centroid FROM (
       |    SELECT vec_id, idx,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, idx) AS rn
       |    FROM cd WHERE vec_id < $simQueryIds
       |  ) WHERE rn <= $ivfProbe
       |), cand AS (
       |  SELECT p.qid, a.nid
       |  FROM probes p JOIN assign a ON a.centroid = p.centroid
       |  WHERE p.qid <> a.nid
       |)""".stripMargin + rerankSql

  /** PQ oracle: replays [[graft.ops.Pq]] step for step with the
    * lowest-id codebooks. Codes = per-(vector, subspace) argmax of
    * `dot − ½‖c‖²` with first-index tie-break (Spark's augmented
    * kernel adds the offset as the LAST fold term; `a − b ≡ a + (−b)`
    * in IEEE, so the SQL subtraction is bit-identical). The ADC sum
    * replays Spark's in-subspace-order `aggregate` fold via
    * `list_sum(list(lv ORDER BY s))` — a GROUP-BY `sum()` would add
    * in unspecified order and can differ in the last ulp.
    */
  private def pqOracle: String = {
    val dsub = embeddingDim / pqM
    def subDot(vec: String) =
      s"list_sum(list_transform(range(1, ${dsub + 1}), i -> $vec[sub.s*$dsub + i]::DOUBLE * sub.cs[i]::DOUBLE))"
    s"""WITH cent AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS j,
       |    embedding AS cvec
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $pqKsub)
       |), sub AS (
       |  SELECT CAST(ss.s AS INTEGER) AS s, c.j,
       |    list_transform(range(1, ${dsub + 1}), i -> c.cvec[ss.s*$dsub + i]) AS cs
       |  FROM (SELECT unnest(range(0, $pqM)) AS s) ss CROSS JOIN cent c
       |), cd AS (
       |  SELECT e.vec_id, sub.s, sub.j,
       |    ${subDot("e.embedding")}
       |      - 0.5 * list_sum(list_transform(range(1, ${dsub + 1}), i -> sub.cs[i]::DOUBLE * sub.cs[i]::DOUBLE)) AS score
       |  FROM embeddings e CROSS JOIN sub
       |), codes AS (
       |  SELECT vec_id, s, j AS code FROM (
       |    SELECT vec_id, s, j,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY score DESC, j) AS rn
       |    FROM cd
       |  ) WHERE rn = 1
       |), lut AS (
       |  SELECT q.vec_id AS qid, sub.s, sub.j, ${subDot("q.embedding")} AS lv
       |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < $simQueryIds) q
       |  CROSS JOIN sub
       |), adc AS (
       |  SELECT l.qid, k.vec_id AS nid, list_sum(list(l.lv ORDER BY l.s)) AS adc
       |  FROM codes k JOIN lut l ON l.s = k.s AND l.j = k.code
       |  WHERE l.qid <> k.vec_id
       |  GROUP BY l.qid, k.vec_id
       |), ranked AS (
       |  SELECT qid, nid, adc,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc DESC, nid) AS rank
       |  FROM adc
       |)
       |SELECT qid, CAST(rank AS INTEGER) AS rank, nid, round(adc, 4) AS adc_r
       |FROM ranked WHERE rank <= $simK ORDER BY qid, rank""".stripMargin
  }

  /** IVF-PQ oracle: composes the [[ivfOracle]] coarse conventions
    * (lowest-id centroids, best-dot assignment with first-index
    * tie-break, top-nProbe probes) with the [[pqOracle]] code/LUT
    * replay, over RESIDUALS. The residual is the exact engine float:
    * `CAST(x_i::DOUBLE − c_i::DOUBLE AS FLOAT)` (the JVM computes the
    * same double-subtract-then-narrow). The final score replays
    * Spark's `Σ_s lut + qc`: the LUT fold in subspace order first,
    * then ONE add of the query-centroid dot.
    */
  private def ivfPqOracle: String = {
    val dsub = embeddingDim / pqM
    def subDot(vec: String) =
      s"list_sum(list_transform(range(1, ${dsub + 1}), i -> $vec[sub.s*$dsub + i]::DOUBLE * sub.cs[i]::DOUBLE))"
    s"""WITH cent AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS idx,
       |    embedding AS cvec
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $ivfCentroids)
       |), cd AS (
       |  SELECT e.vec_id, c.idx,
       |    ${dotSql("c.cvec", "e.embedding")} AS d
       |  FROM embeddings e CROSS JOIN cent c
       |), assign AS (
       |  SELECT vec_id, idx AS cell FROM (
       |    SELECT vec_id, idx,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, idx) AS rn
       |    FROM cd
       |  ) WHERE rn = 1
       |), res AS (
       |  SELECT e.vec_id, a.cell,
       |    list_transform(range(1, ${embeddingDim + 1}),
       |      i -> CAST(e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE AS FLOAT)) AS rv
       |  FROM embeddings e
       |  JOIN assign a ON a.vec_id = e.vec_id
       |  JOIN cent c ON c.idx = a.cell
       |), rbook AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS j, rv
       |  FROM (SELECT vec_id, rv FROM res ORDER BY vec_id LIMIT $pqKsub)
       |), sub AS (
       |  SELECT CAST(ss.s AS INTEGER) AS s, r.j,
       |    list_transform(range(1, ${dsub + 1}), i -> r.rv[ss.s*$dsub + i]) AS cs
       |  FROM (SELECT unnest(range(0, $pqM)) AS s) ss CROSS JOIN rbook r
       |), cdq AS (
       |  SELECT r.vec_id, r.cell, sub.s, sub.j,
       |    ${subDot("r.rv")}
       |      - 0.5 * list_sum(list_transform(range(1, ${dsub + 1}), i -> sub.cs[i]::DOUBLE * sub.cs[i]::DOUBLE)) AS score
       |  FROM res r CROSS JOIN sub
       |), codes AS (
       |  SELECT vec_id, cell, s, j AS code FROM (
       |    SELECT vec_id, cell, s, j,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY score DESC, j) AS rn
       |    FROM cdq
       |  ) WHERE rn = 1
       |), probes AS (
       |  SELECT vec_id AS qid, idx AS cell, d AS qc FROM (
       |    SELECT vec_id, idx, d,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, idx) AS rn
       |    FROM cd WHERE vec_id < $simQueryIds
       |  ) WHERE rn <= $ivfProbe
       |), lut AS (
       |  SELECT q.vec_id AS qid, sub.s, sub.j, ${subDot("q.embedding")} AS lv
       |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < $simQueryIds) q
       |  CROSS JOIN sub
       |), adc AS (
       |  SELECT l.qid, k.vec_id AS nid,
       |    list_sum(list(l.lv ORDER BY l.s)) + max(p.qc) AS adc
       |  FROM codes k
       |  JOIN probes p ON p.cell = k.cell
       |  JOIN lut l ON l.qid = p.qid AND l.s = k.s AND l.j = k.code
       |  WHERE p.qid <> k.vec_id
       |  GROUP BY l.qid, k.vec_id
       |), ranked AS (
       |  SELECT qid, nid, adc,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc DESC, nid) AS rank
       |  FROM adc
       |)
       |SELECT qid, CAST(rank AS INTEGER) AS rank, nid, round(adc, 4) AS adc_r
       |FROM ranked WHERE rank <= $simK ORDER BY qid, rank""".stripMargin
  }

  /** SemDeDup oracle: replays [[Similarity.semanticDedupPairs]] —
    * lowest-id quantizer (as q_ivf_topk), max-dot assignment with
    * first-index tie-break (`ORDER BY d DESC, idx`), within-cluster
    * `a < b` pairs, exact double-fold cosine filtered at the UNROUNDED
    * threshold, then 4-decimal rounding for display. The `NOT isnan`
    * guard mirrors the engine's `Similarity.passesThreshold`: DuckDB,
    * like Spark, orders NaN above every number, so a bare `sim >= t`
    * would call a zero-norm/NaN embedding similar to its whole cluster.
    */
  private def semanticDedupOracle(maxCluster: Int = 0): String =
    semanticCtes(maxCluster) +
      s"""
         |SELECT cluster, a, b, round(sim, 4) AS sim_r
         |FROM scored WHERE sim >= $semThreshold AND NOT isnan(sim)
         |ORDER BY a, b""".stripMargin

  /** SemDeDup keep-set oracle: drop the larger id of every pair —
    * replaying [[Similarity.semanticDedup]]'s greedy keep-first policy
    * over the same pair CTEs as q_semantic_dedup.
    */
  private def semanticSurvivorsOracle: String =
    semanticCtes(0) +
      s"""
         |SELECT vec_id FROM sub
         |WHERE vec_id NOT IN (
         |  SELECT b FROM scored WHERE sim >= $semThreshold AND NOT isnan(sim))
         |ORDER BY vec_id""".stripMargin

  private def semanticCtes(maxCluster: Int): String = {
    val pairSource =
      if (maxCluster > 0)
        s"""), kept AS (
           |  SELECT cluster FROM assign GROUP BY cluster HAVING count(*) <= $maxCluster
           |), assign_b AS (
           |  SELECT a.* FROM assign a JOIN kept USING (cluster)""".stripMargin
      else "), assign_b AS (\n  SELECT * FROM assign"
    s"""WITH sub AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < $semSubsetIds
       |), cent AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS idx,
       |    embedding AS cvec
       |  FROM (SELECT vec_id, embedding FROM sub ORDER BY vec_id LIMIT $semClusters)
       |), cd AS (
       |  SELECT e.vec_id, c.idx,
       |    ${dotSql("c.cvec", "e.embedding")} AS d
       |  FROM sub e CROSS JOIN cent c
       |), assign AS (
       |  SELECT vec_id, idx AS cluster FROM (
       |    SELECT vec_id, idx,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, idx) AS rn
       |    FROM cd
       |  ) WHERE rn = 1
       |$pairSource
       |), pr AS (
       |  SELECT x.cluster, x.vec_id AS a, y.vec_id AS b
       |  FROM assign_b x JOIN assign_b y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       |), scored AS (
       |  SELECT p.cluster, p.a, p.b,
       |    ${dotSql("av.embedding", "bv.embedding")} /
       |    (sqrt(${dotSql("av.embedding", "av.embedding")}) * sqrt(${dotSql("bv.embedding", "bv.embedding")})) AS sim
       |  FROM pr p
       |  JOIN sub av ON av.vec_id = p.a
       |  JOIN sub bv ON bv.vec_id = p.b
       |)""".stripMargin
  }

  /** Cross-corpus candidate + Jaccard suffix for the fuzzy-join
    * oracles. With `maxBucket > 0`, each SIDE independently drops its
    * over-cap buckets before the cross join — replaying
    * [[Dedup.fuzzyTextJoin]]'s per-side skew guard.
    */
  private def fuzzyJoinSuffix(maxBucket: Int): String = {
    def side(parity: Int) = {
      val base = s"SELECT * FROM bands WHERE doc_id % 2 = $parity"
      if (maxBucket > 0)
        s"""  SELECT b.* FROM ($base) b
           |  JOIN (SELECT band, band_hash FROM ($base) GROUP BY 1, 2
           |        HAVING count(*) <= $maxBucket) k USING (band, band_hash)""".stripMargin
      else s"  $base"
    }
    s""", bl AS (
       |${side(0)}
       |), br AS (
       |${side(1)}
       |), cand2 AS (
       |  SELECT DISTINCT x.doc_id AS left_id, y.doc_id AS right_id
       |  FROM bl x JOIN br y
       |    ON x.band = y.band AND x.band_hash = y.band_hash
       |), shx AS (
       |  SELECT doc_id, list_distinct(shingles) AS s FROM sh
       |), jac AS (
       |  SELECT c.left_id, c.right_id,
       |    len(list_filter(sa.s, x -> list_contains(sb.s, x)))::DOUBLE
       |      / len(list_distinct(list_concat(sa.s, sb.s)))::DOUBLE AS jaccard
       |  FROM cand2 c
       |  JOIN shx sa ON sa.doc_id = c.left_id
       |  JOIN shx sb ON sb.doc_id = c.right_id
       |)
       |SELECT left_id, right_id, round(jaccard, 4) AS jaccard_r
       |FROM jac WHERE jaccard >= 0.4 ORDER BY left_id, right_id""".stripMargin
  }

  /** Exact-Jaccard verification suffix shared by the uncapped and
    * bucket-capped near-dup oracles. */
  private def verifiedJacSql: String =
    """, shx AS (
      |  SELECT doc_id, list_distinct(shingles) AS s FROM sh
      |), jac AS (
      |  SELECT c.a, c.b,
      |    len(list_filter(sa.s, x -> list_contains(sb.s, x)))::DOUBLE
      |      / len(list_distinct(list_concat(sa.s, sb.s)))::DOUBLE AS jaccard
      |  FROM cand c
      |  JOIN shx sa ON sa.doc_id = c.a
      |  JOIN shx sb ON sb.doc_id = c.b
      |)
      |SELECT a, b, round(jaccard, 4) AS jaccard_r
      |FROM jac WHERE jaccard >= 0.4 ORDER BY a, b""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_ann_topk" -> annOracle,
    "q_ann_recall" -> ("WITH " + annBucketCtes("embeddings") +
      s""", cand AS (
         |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
         |  FROM buck q JOIN buck c ON q.tbl = c.tbl AND q.bucket = c.bucket
         |  WHERE q.vec_id < $simQueryIds AND q.vec_id <> c.vec_id
         |), asc0 AS (
         |  SELECT cand.qid, cand.nid,
         |    ${dotSql("qv.embedding", "nv.embedding")} /
         |    (sqrt(${dotSql("qv.embedding", "qv.embedding")}) * sqrt(${dotSql("nv.embedding", "nv.embedding")})) AS sim
         |  FROM cand
         |  JOIN embeddings qv ON qv.vec_id = cand.qid
         |  JOIN embeddings nv ON nv.vec_id = cand.nid
         |), annr AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
         |    FROM asc0
         |  ) WHERE rank <= $simK
         |), qq AS (
         |  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
         |  WHERE vec_id < $simQueryIds
         |), bsc AS (
         |  SELECT qq.qid, c.vec_id AS nid,
         |    ${dotSql("qq.qvec", "c.embedding")} /
         |    (sqrt(${dotSql("qq.qvec", "qq.qvec")}) * sqrt(${dotSql("c.embedding", "c.embedding")})) AS sim
         |  FROM embeddings c CROSS JOIN qq WHERE c.vec_id <> qq.qid
         |), bru AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
         |    FROM bsc
         |  ) WHERE rank <= $simK
         |), hits AS (
         |  SELECT b.qid, count(*)::BIGINT AS n
         |  FROM bru b JOIN annr a ON a.qid = b.qid AND a.nid = b.nid
         |  GROUP BY 1
         |)
         |SELECT qq.qid, coalesce(h.n, 0)::BIGINT AS n_hits,
         |  round(coalesce(h.n, 0)::DOUBLE / $simK, 4) AS recall_r
         |FROM qq LEFT JOIN hits h ON h.qid = qq.qid
         |ORDER BY qq.qid""".stripMargin),
    // X125: same two arms as q_ann_recall, kept WITH ranks; graded
    // truth from the exact ranking; quantized-integer DCG sums with
    // ln 2 as the shared literal (RetrievalEval.Ln2).
    "q_retrieval_metrics" -> ("WITH " + annBucketCtes("embeddings") +
      s""", cand AS (
         |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
         |  FROM buck q JOIN buck c ON q.tbl = c.tbl AND q.bucket = c.bucket
         |  WHERE q.vec_id < $simQueryIds AND q.vec_id <> c.vec_id
         |), asc0 AS (
         |  SELECT cand.qid, cand.nid,
         |    ${dotSql("qv.embedding", "nv.embedding")} /
         |    (sqrt(${dotSql("qv.embedding", "qv.embedding")}) * sqrt(${dotSql("nv.embedding", "nv.embedding")})) AS sim
         |  FROM cand
         |  JOIN embeddings qv ON qv.vec_id = cand.qid
         |  JOIN embeddings nv ON nv.vec_id = cand.nid
         |), annr AS (
         |  SELECT qid, nid, rank FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
         |    FROM asc0
         |  ) WHERE rank <= $simK
         |), qq AS (
         |  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
         |  WHERE vec_id < $simQueryIds
         |), bsc AS (
         |  SELECT qq.qid, c.vec_id AS nid,
         |    ${dotSql("qq.qvec", "c.embedding")} /
         |    (sqrt(${dotSql("qq.qvec", "qq.qvec")}) * sqrt(${dotSql("c.embedding", "c.embedding")})) AS sim
         |  FROM embeddings c CROSS JOIN qq WHERE c.vec_id <> qq.qid
         |), tru AS (
         |  SELECT qid, nid, ($simK - rank + 1)::DOUBLE AS g FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
         |    FROM bsc
         |  ) WHERE rank <= $simK
         |), ideal AS (
         |  SELECT qid, count(*)::BIGINT AS n_relevant,
         |    sum(CASE WHEN irk <= $simK
         |             THEN CAST(round(g * $ln2Sql / ln(irk + 1) * 1e9) AS BIGINT) END) AS idcgq
         |  FROM (SELECT qid, nid, g,
         |          row_number() OVER (PARTITION BY qid ORDER BY g DESC, nid) AS irk
         |        FROM tru)
         |  GROUP BY 1
         |), mhits AS (
         |  SELECT t.qid, count(*)::BIGINT AS n_hits, min(a.rank) AS minrk,
         |    sum(CAST(round(t.g * $ln2Sql / ln(a.rank + 1) * 1e9) AS BIGINT)) AS dcgq
         |  FROM tru t JOIN annr a ON a.qid = t.qid AND a.nid = t.nid
         |  GROUP BY 1
         |)
         |SELECT i.qid, i.n_relevant, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
         |  round(coalesce(h.n_hits, 0)::DOUBLE / i.n_relevant, 4) AS recall_r,
         |  round(CASE WHEN h.minrk IS NULL THEN 0e0 ELSE 1e0 / h.minrk END, 4) AS mrr_r,
         |  round(coalesce(h.dcgq, 0)::DOUBLE / i.idcgq::DOUBLE, 4) AS ndcg_r
         |FROM ideal i LEFT JOIN mhits h ON h.qid = i.qid
         |ORDER BY i.qid""".stripMargin),
    // X134: confusion counts from the shared lang-pred CTEs; integer
    // ratios; κ's chance term quantized to 1e-12 units.
    "q_classifier_report" -> ("WITH " + langPredCtes +
      s""", base AS (
         |  SELECT lp.lang_pred AS p, d.lang AS g
         |  FROM documents d JOIN lp ON lp.doc_id = d.doc_id
         |  WHERE d.lang IS NOT NULL
         |), pairs AS (
         |  SELECT p, g, count(*)::BIGINT AS cnt FROM base GROUP BY 1, 2
         |), goldn AS (
         |  SELECT g AS class, CAST(sum(cnt) AS BIGINT) AS n_gold FROM pairs GROUP BY 1
         |), predn AS (
         |  SELECT p AS class, CAST(sum(cnt) AS BIGINT) AS n_pred FROM pairs GROUP BY 1
         |), tpn AS (
         |  SELECT g AS class, CAST(sum(cnt) AS BIGINT) AS tp FROM pairs
         |  WHERE p = g GROUP BY 1
         |), cls AS (
         |  SELECT coalesce(gd.class, pd.class) AS class,
         |    coalesce(gd.n_gold, 0)::BIGINT AS n_gold,
         |    coalesce(pd.n_pred, 0)::BIGINT AS n_pred
         |  FROM goldn gd FULL JOIN predn pd ON pd.class = gd.class
         |), cls2 AS (
         |  SELECT c.class, c.n_gold, c.n_pred, coalesce(t.tp, 0)::BIGINT AS tp
         |  FROM cls c LEFT JOIN tpn t ON t.class = c.class
         |), tot AS (
         |  SELECT CAST(sum(cnt) AS BIGINT) AS nn,
         |    CAST(sum(CASE WHEN p = g THEN cnt ELSE 0 END) AS BIGINT) AS agree
         |  FROM pairs
         |), pe AS (
         |  SELECT CAST(sum(CAST(round((n_gold::DOUBLE / nn) * (n_pred::DOUBLE / nn) * 1e12) AS BIGINT)) AS BIGINT)::DOUBLE / 1e12 AS pe
         |  FROM cls2, tot
         |)
         |SELECT class, n_gold, n_pred, tp,
         |  round(CASE WHEN n_pred = 0 THEN NULL ELSE tp::DOUBLE / n_pred END, 4) AS precision_r,
         |  round(CASE WHEN n_gold = 0 THEN NULL ELSE tp::DOUBLE / n_gold END, 4) AS recall_r,
         |  round(CASE WHEN n_pred + n_gold = 0 THEN NULL
         |             ELSE 2e0 * tp / (n_pred + n_gold) END, 4) AS f1_r,
         |  round(agree::DOUBLE / nn, 4) AS accuracy_r,
         |  round(CASE WHEN 1e0 - pe = 0e0 THEN NULL
         |             ELSE (agree::DOUBLE / nn - pe) / (1e0 - pe) END, 4) + 0e0 AS kappa_r
         |FROM cls2, tot, pe ORDER BY class""".stripMargin),

    // X132: bit-length binning + integer bucket cumulatives + sqrt
    // pacing thresholds, all engine-exact.
    "q_curriculum" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    CAST(round(len(string_split(lower(text), ' '))::DOUBLE * 1e6) AS BIGINT) AS qv
        |  FROM documents
        |), bb AS (
        |  SELECT doc_id, m,
        |    CASE WHEN m <= 4 THEN qv ELSE (qv >> (m - 1 - 3)) & 7 END AS sub
        |  FROM (SELECT doc_id, qv, length(bin(qv))::INTEGER AS m
        |        FROM v WHERE qv IS NOT NULL AND qv >= 0)
        |), h AS (
        |  SELECT m, sub, count(*)::BIGINT AS n FROM bb GROUP BY 1, 2
        |), c AS (
        |  SELECT m, sub,
        |    CAST(sum(n) OVER (ORDER BY m, sub) AS BIGINT)::DOUBLE /
        |    CAST(sum(n) OVER () AS BIGINT)::DOUBLE AS pctl
        |  FROM h
        |)
        |SELECT bb.doc_id, round(c.pctl, 6) AS pctl_r,
        |  CASE WHEN c.pctl <= sqrt(1e0/4e0) THEN 1
        |       WHEN c.pctl <= sqrt(2e0/4e0) THEN 2
        |       WHEN c.pctl <= sqrt(3e0/4e0) THEN 3 ELSE 4 END AS phase
        |FROM bb JOIN c ON c.m = bb.m AND c.sub = bb.sub
        |ORDER BY bb.doc_id""".stripMargin,

    // X129: straight aggregation replay; the windowed sum and count
    // casts pin HUGEINT→BIGINT, NULL langs excluded from the mode.
    "q_corpus_datasheet" ->
      """WITH b AS (
        |  SELECT source, lang, text,
        |    len(string_split(lower(text), ' '))::BIGINT AS ntok
        |  FROM documents
        |), a AS (
        |  SELECT source, count(*)::BIGINT AS n_docs,
        |    CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |    round(quantile_cont(ntok::DOUBLE, 0.5), 4) AS p50_tokens,
        |    count(DISTINCT lang)::BIGINT AS n_langs,
        |    count(DISTINCT text)::BIGINT AS nd
        |  FROM b GROUP BY 1
        |), lc AS (
        |  SELECT source, lang, count(*)::BIGINT AS c
        |  FROM b WHERE lang IS NOT NULL GROUP BY 1, 2
        |), top AS (
        |  SELECT source, lang AS top_lang, c FROM (
        |    SELECT *, row_number() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rk
        |    FROM lc
        |  ) WHERE rk = 1
        |)
        |SELECT a.source, a.n_docs, a.n_tokens,
        |  round(a.n_tokens::DOUBLE / a.n_docs, 4) AS avg_tokens_r,
        |  a.p50_tokens, a.n_langs, t.top_lang,
        |  round(t.c::DOUBLE / a.n_docs, 4) AS top_lang_share_r,
        |  round((a.n_docs - a.nd)::DOUBLE / a.n_docs, 4) AS exact_dup_rate_r
        |FROM a LEFT JOIN top t ON t.source = a.source
        |ORDER BY a.source""".stripMargin,

    // X126: integer CDF replay — sqrt-composed 3/4 power, quantized
    // weights, windowed prefix sum, md5 draw mod total, range lookup
    // (the engine's bucketed equi-join returns the identical match).
    "q_negative_sampling" ->
      s"""WITH tok AS (
         |  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
         |), fr AS (
         |  SELECT token, count(*)::BIGINT AS freq FROM tok GROUP BY 1
         |), cdf AS (
         |  SELECT token, q, CAST(sum(q) OVER (ORDER BY token) AS BIGINT) AS cum_hi
         |  FROM (SELECT token,
         |          CAST(round(sqrt(freq::DOUBLE * sqrt(freq::DOUBLE)) * 1e6) AS BIGINT) AS q
         |        FROM fr)
         |), c2 AS (
         |  SELECT token, cum_hi - q AS cum_lo, cum_hi FROM cdf
         |), tot AS (SELECT CAST(max(cum_hi) AS BIGINT) AS total FROM c2),
         |dr AS (
         |  SELECT d.doc_id, s.slot,
         |    ('0x' || substr(md5('neg42' || '|' || d.doc_id || '|' || s.slot), 1, 15))::BIGINT % t.total AS draw
         |  FROM documents d, (SELECT unnest(range(1, ${negK + 1})) AS slot) s, tot t
         |)
         |SELECT dr.doc_id, CAST(dr.slot AS INTEGER) AS slot, c.token AS neg_token, dr.draw
         |FROM dr JOIN c2 c ON dr.draw >= c.cum_lo AND dr.draw < c.cum_hi
         |ORDER BY dr.doc_id, dr.slot""".stripMargin,
    "q_ann_neardup" ->
      (annNearDupCtes +
        """
          |SELECT a, b, round(sim, 4) AS sim_r
          |FROM scored WHERE sim >= 0.4 AND NOT isnan(sim)
          |ORDER BY a, b""".stripMargin),
    "q_embedding_survivors" ->
      (annNearDupCtes +
        """
          |SELECT vec_id FROM sub
          |WHERE vec_id NOT IN (
          |  SELECT b FROM scored WHERE sim >= 0.4 AND NOT isnan(sim))
          |ORDER BY vec_id""".stripMargin),
    "q_ann_topk_q8" -> annQ8Oracle,
    "q_ivf_topk" -> ivfOracle,
    "q_pq_topk" -> pqOracle,
    "q_ivfpq_topk" -> ivfPqOracle,
    // X46 int8 quantization replay: identical IEEE scale/division and
    // ties-away-from-zero rounding make the CODES exact cross-engine;
    // the sum/L1 aggregates pin them without array-typed compare.
    "q_quantize_embeddings" ->
      s"""WITH sub AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < $semSubsetIds
         |), s AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, v -> abs(v::DOUBLE))) / 127.0 AS scale
         |  FROM sub
         |), q AS (
         |  SELECT vec_id, embedding, scale,
         |    CASE WHEN scale = 0 THEN list_transform(embedding, v -> 0)
         |         ELSE list_transform(embedding,
         |                v -> CAST(round(v::DOUBLE / scale) AS INTEGER)) END AS q8
         |  FROM s
         |), d AS (
         |  SELECT vec_id, embedding, scale, q8,
         |    list_transform(q8, x -> x::DOUBLE * scale) AS deq
         |  FROM q
         |)
         |SELECT vec_id,
         |  round(scale, 6) AS scale_r,
         |  list_sum(q8)::BIGINT AS q_sum,
         |  list_sum(list_transform(q8, x -> abs(x)))::BIGINT AS q_l1,
         |  round(${dotSql("embedding", "deq")} /
         |    (sqrt(${dotSql("embedding", "embedding")}) * sqrt(${dotSql("deq", "deq")})), 4)
         |    AS recon_cos_r
         |FROM d ORDER BY vec_id""".stripMargin,
    "q_semantic_dedup" -> semanticDedupOracle(),
    "q_semantic_capped" -> semanticDedupOracle(maxCluster = semClusterCap),
    "q_semantic_survivors" -> semanticSurvivorsOracle,
    "q_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id, lower(text) AS t FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    CASE WHEN length(t) < 8 THEN [t]
        |         ELSE list_transform(generate_series(1, length(t)-7), i -> substr(t, i, 8)) END AS grams
        |  FROM t
        |), h AS (
        |  SELECT doc_id,
        |    list_transform(grams, g -> ('0x' || substr(md5(g),1,7))::BIGINT) AS hs
        |  FROM g
        |), m AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
        |         ELSE list_transform(generate_series(1, len(hs)-3), j -> list_min(hs[j:j+3])) END AS mins
        |  FROM h
        |)
        |SELECT doc_id, unnest(list_sort(list_distinct(mins))) AS fp
        |FROM m ORDER BY doc_id, fp""".stripMargin,
    "q_text_stats" -> statsOracle,
    "q_lang_id" -> langOracle,
    "q_filter_auc" -> filterAucOracle,
    "q_pr_curve" -> prCurveOracle,
    "q_calibration" -> calibrationOracle,
    "q_calibration_error" -> calibrationErrorOracle,
    "q_sliced_auc" -> slicedAucOracle,
    "q_js_divergence" -> jsDivergenceOracle,
    "q_diverging_terms" -> divergingTermsOracle,
    "q_corpus_health" -> corpusHealthOracle,
    "q_repetition" ->
      """WITH docs AS (
        |  SELECT doc_id, lower(text) AS t FROM documents
        |), tok AS (
        |  SELECT doc_id, t, string_split(t, ' ') AS toks FROM docs
        |), t1 AS (
        |  SELECT doc_id, unnest(toks) AS g FROM tok
        |), c1 AS (
        |  SELECT doc_id, g, count(*) AS c FROM t1 GROUP BY 1, 2
        |), s1 AS (
        |  SELECT doc_id, sum(c) AS total, count(*) AS dist, max(c) AS top
        |  FROM c1 GROUP BY 1
        |), bg AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 2 THEN [t]
        |         ELSE list_transform(generate_series(1, len(toks)-1),
        |                i -> toks[i] || ' ' || toks[i+1]) END AS grams
        |  FROM tok
        |), t2 AS (
        |  SELECT doc_id, unnest(grams) AS g FROM bg
        |), c2 AS (
        |  SELECT doc_id, g, count(*) AS c FROM t2 GROUP BY 1, 2
        |), s2 AS (
        |  SELECT doc_id, sum(c) AS total, count(*) AS dist, max(c) AS top
        |  FROM c2 GROUP BY 1
        |)
        |SELECT s1.doc_id,
        |  round(s1.top::DOUBLE / s1.total::DOUBLE, 4) AS top_token_frac,
        |  round((s1.total - s1.dist)::DOUBLE / s1.total::DOUBLE, 4) AS dup_token_frac,
        |  round(s2.top::DOUBLE / s2.total::DOUBLE, 4) AS top_bigram_frac,
        |  round((s2.total - s2.dist)::DOUBLE / s2.total::DOUBLE, 4) AS dup_bigram_frac,
        |  (round((s1.total - s1.dist)::DOUBLE / s1.total::DOUBLE, 4) > 0.3
        |   OR round((s2.total - s2.dist)::DOUBLE / s2.total::DOUBLE, 4) > 0.15) AS is_repetitive
        |FROM s1 JOIN s2 ON s1.doc_id = s2.doc_id
        |ORDER BY s1.doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS fingerprint, min(doc_id) AS survivor_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY survivor_id""".stripMargin,
    "q_dedup_normalized" ->
      (normalizedCorpusCte +
        """
        |SELECT md5(n) AS fingerprint, min(doc_id) AS survivor_id,
        |  count(*) AS n_copies
        |FROM norm GROUP BY n ORDER BY survivor_id""".stripMargin),
    "q_dedup_normalized_survivors" ->
      (normalizedCorpusCte +
        """
        |SELECT min(doc_id) AS doc_id FROM norm GROUP BY n
        |ORDER BY doc_id""".stripMargin),
    "q_dedup_near" ->
      (minhashCtes(16, 8) + "\nSELECT a, b, est_jaccard FROM est ORDER BY a, b"),
    "q_dedup_survivors" ->
      (minhashCtes(16, 8) +
        """
          |SELECT doc_id FROM documents
          |WHERE doc_id NOT IN (SELECT b FROM est WHERE est_jaccard >= 0.5)
          |ORDER BY doc_id""".stripMargin),
    "q_dedup_incremental" ->
      incrementalOracle(16, 8, incrementalSplit, 0.5),
    "q_dedup_incremental_survivors" ->
      incrementalSurvivorsOracle(16, 8, incrementalSplit, 0.5),
    "q_dedup_incremental_capped" ->
      incrementalCappedOracle(16, 8, incrementalSplit, 0.5, cap = 2),
    "q_dedup_incremental_exact" ->
      s"""WITH inc AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id >= $incrementalSplit
         |  UNION ALL
         |  SELECT doc_id + $recrawlOffset, text FROM documents
         |  WHERE doc_id < $recrawlIds
         |)
         |SELECT doc_id FROM inc
         |-- 'unknown content is never a duplicate', on BOTH sides of the
         |-- screen: a NULL-text increment row has md5(text)=NULL and
         |-- `NULL NOT IN (...)` would silently drop it in SQL, while the
         |-- engine's anti-join (NULL never equals) keeps it — so keep it
         |-- explicitly. The store-side IS NOT NULL guards the other half
         |-- of the same trap: one NULL in a NOT-IN subquery empties the
         |-- whole result.
         |WHERE text IS NULL OR md5(text) NOT IN (
         |  SELECT md5(text) FROM documents
         |  WHERE doc_id < $incrementalSplit AND text IS NOT NULL)
         |ORDER BY doc_id""".stripMargin,
    "q_pipeline_incremental" ->
      (incrementalCtes(16, 8, incrementalSplit) +
        s""", inc AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id >= $incrementalSplit
           |  UNION ALL
           |  SELECT doc_id + $recrawlOffset, text FROM documents
           |  WHERE doc_id < $recrawlIds
           |), exact_dup AS (
           |  SELECT doc_id FROM inc
           |  WHERE md5(text) IN (
           |    SELECT md5(text) FROM documents WHERE doc_id < $incrementalSplit)
           |), near_dup AS (
           |  SELECT DISTINCT new_id AS doc_id FROM est WHERE est_jaccard >= 0.5
           |), surv AS (
           |  SELECT doc_id FROM inc
           |  WHERE doc_id NOT IN (SELECT doc_id FROM exact_dup)
           |    AND doc_id NOT IN (SELECT doc_id FROM near_dup)
           |), stats AS (
           |  SELECT doc_id, source,
           |    len(string_split(lower(text), ' '))::BIGINT AS n_tokens,
           |    length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
           |      / length(text)::DOUBLE AS alpha_ratio,
           |    list_sum(list_transform(string_split(lower(text), ' '), x -> length(x)))::DOUBLE
           |      / len(string_split(lower(text), ' '))::DOUBLE AS avg_token_len,
           |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS bpe_tokens
           |  FROM documents
           |)
           |SELECT st.doc_id, st.source, st.n_tokens, st.bpe_tokens
           |FROM stats st JOIN surv USING (doc_id)
           |WHERE n_tokens >= 5 AND n_tokens <= 5000 AND alpha_ratio >= 0.5
           |  AND avg_token_len >= 2.0 AND avg_token_len <= 20.0
           |ORDER BY doc_id""".stripMargin),
    "q_dedup_best" ->
      (minhashCtes(16, 8) +
        """, pr AS (
          |  SELECT doc_id,
          |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS prio
          |  FROM documents
          |), losers AS (
          |  -- NULL priority loses to any non-NULL (engine policy,
          |  -- Dedup.dedupNearBy); both-NULL falls through to the id tie
          |  SELECT DISTINCT CASE
          |    WHEN pa.prio IS NULL AND pb.prio IS NOT NULL THEN e.a
          |    WHEN pb.prio IS NULL AND pa.prio IS NOT NULL THEN e.b
          |    WHEN pa.prio < pb.prio THEN e.a
          |    WHEN pb.prio < pa.prio THEN e.b
          |    ELSE greatest(e.a, e.b) END AS doc_id
          |  FROM est e
          |  JOIN pr pa ON pa.doc_id = e.a
          |  JOIN pr pb ON pb.doc_id = e.b
          |  WHERE e.est_jaccard >= 0.5
          |)
          |SELECT doc_id FROM documents
          |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
          |ORDER BY doc_id""".stripMargin),
    "q_simhash" -> simhashOracle(60),
    "q_similarity_topk" -> similarityOracle,
    "q_curation" ->
      (minhashCtes(16, 8) +
        """, stats AS (
          |  SELECT doc_id, lang,
          |    len(string_split(lower(text), ' '))::BIGINT AS n_tokens,
          |    length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
          |      / length(text)::DOUBLE AS alpha_ratio,
          |    list_sum(list_transform(string_split(lower(text), ' '), x -> length(x)))::DOUBLE
          |      / len(string_split(lower(text), ' '))::DOUBLE AS avg_token_len,
          |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS bpe_tokens
          |  FROM documents
          |), kept AS (
          |  SELECT * FROM stats
          |  WHERE n_tokens >= 5 AND n_tokens <= 5000 AND alpha_ratio >= 0.5
          |    AND avg_token_len >= 2.0 AND avg_token_len <= 20.0
          |    AND doc_id NOT IN (SELECT b FROM est WHERE est_jaccard >= 0.5)
          |)
          |SELECT lang, count(*) AS n_docs,
          |  round(avg(n_tokens), 4) AS avg_tokens,
          |  sum(bpe_tokens)::BIGINT AS total_bpe_tokens
          |FROM kept GROUP BY lang ORDER BY lang""".stripMargin),
    // Full curation pipeline: dedup survivors (within-corpus pairs
    // only, a >= cut), quality gate (same idiom as q_curation),
    // trigram decontamination off the shared `sh` CTE, per-source
    // seeded-hash prefix sums under the 1000/500/500 allocations, then
    // the id-ordered BPE prefix sum cut into 512-token packs.
    "q_pipeline_curation" ->
      (minhashCtes(16, 8) +
        s""", surv AS (
           |  SELECT doc_id FROM documents
           |  WHERE doc_id >= $pipelineBenchCut
           |    AND doc_id NOT IN (
           |      SELECT b FROM est WHERE est_jaccard >= 0.5 AND a >= $pipelineBenchCut)""".stripMargin +
        pipelineTailSql),
    "q_pipeline_curation_best" ->
      (minhashBandsCtes(16, 8) + pipelineBestSurvCtes(2) + pipelineTailSql),
    "q_pipeline_corpus" ->
      (minhashBandsCtes(16, 8) + pipelineBestSurvCtes(2) + pipelineMidSql +
        corpusTailSql),
    // engine doubles mirrored expression-for-expression (same
    // association order), so every ratio and the nested-sqrt BLEU
    // replay bit-exactly; n-gram counts are pure integers
    "q_text_eval" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS rtk FROM documents
        |), pair AS (
        |  SELECT doc_id, rtk,
        |    rtk[1:CAST(ceil(len(rtk)::DOUBLE * 0.6) AS INT)] AS ctk
        |  FROM t
        |), side AS (
        |  SELECT doc_id, 'c' AS s, ctk AS toks FROM pair
        |  UNION ALL SELECT doc_id, 'r', rtk FROM pair
        |), grams AS (
        |  SELECT doc_id, s, nn.n AS n,
        |    unnest(list_transform(generate_series(1, len(toks) - nn.n + 1),
        |      i -> array_to_string(toks[i:i+nn.n-1], ' '))) AS gram
        |  FROM side CROSS JOIN (SELECT unnest([1,2,3,4]) AS n) nn
        |  WHERE len(toks) >= nn.n
        |), gc AS (
        |  SELECT doc_id, s, n, gram, count(*)::BIGINT AS cnt
        |  FROM grams GROUP BY 1, 2, 3, 4
        |), ov AS (
        |  SELECT c.doc_id, c.n, sum(least(c.cnt, r.cnt))::BIGINT AS ov
        |  FROM gc c JOIN gc r
        |    ON r.doc_id = c.doc_id AND r.n = c.n AND r.gram = c.gram
        |  WHERE c.s = 'c' AND r.s = 'r'
        |  GROUP BY 1, 2
        |), tot AS (
        |  SELECT doc_id, n,
        |    sum(CASE WHEN s = 'c' THEN cnt END)::BIGINT AS ct,
        |    sum(CASE WHEN s = 'r' THEN cnt END)::BIGINT AS rt
        |  FROM gc GROUP BY 1, 2
        |), m AS (
        |  SELECT t.doc_id, t.n, COALESCE(o.ov, 0) AS ov,
        |    COALESCE(t.ct, 0) AS ct, COALESCE(t.rt, 0) AS rt
        |  FROM tot t LEFT JOIN ov o ON o.doc_id = t.doc_id AND o.n = t.n
        |), w AS (
        |  SELECT doc_id,
        |    COALESCE(max(CASE WHEN n=1 THEN ov END), 0) AS ov1,
        |    COALESCE(max(CASE WHEN n=1 THEN ct END), 0) AS ct1,
        |    COALESCE(max(CASE WHEN n=1 THEN rt END), 0) AS rt1,
        |    COALESCE(max(CASE WHEN n=2 THEN ov END), 0) AS ov2,
        |    COALESCE(max(CASE WHEN n=2 THEN ct END), 0) AS ct2,
        |    COALESCE(max(CASE WHEN n=2 THEN rt END), 0) AS rt2,
        |    COALESCE(max(CASE WHEN n=3 THEN ov END), 0) AS ov3,
        |    COALESCE(max(CASE WHEN n=3 THEN ct END), 0) AS ct3,
        |    COALESCE(max(CASE WHEN n=3 THEN rt END), 0) AS rt3,
        |    COALESCE(max(CASE WHEN n=4 THEN ov END), 0) AS ov4,
        |    COALESCE(max(CASE WHEN n=4 THEN ct END), 0) AS ct4,
        |    COALESCE(max(CASE WHEN n=4 THEN rt END), 0) AS rt4
        |  FROM m GROUP BY 1
        |), lens AS (
        |  SELECT doc_id, len(ctk)::BIGINT AS cand_tokens,
        |    len(rtk)::BIGINT AS ref_tokens
        |  FROM pair
        |)
        |SELECT l.doc_id, l.cand_tokens, l.ref_tokens,
        |  round(l.cand_tokens::DOUBLE / l.ref_tokens::DOUBLE, 4) AS len_ratio,
        |  CASE WHEN ct1 > 0 THEN round(ov1::DOUBLE / ct1::DOUBLE, 4) END AS p1,
        |  CASE WHEN ct2 > 0 THEN round(ov2::DOUBLE / ct2::DOUBLE, 4) END AS p2,
        |  CASE WHEN ct3 > 0 THEN round(ov3::DOUBLE / ct3::DOUBLE, 4) END AS p3,
        |  CASE WHEN ct4 > 0 THEN round(ov4::DOUBLE / ct4::DOUBLE, 4) END AS p4,
        |  CASE WHEN rt1 > 0 THEN round(ov1::DOUBLE / rt1::DOUBLE, 4) END AS r1,
        |  CASE WHEN ct1 > 0 AND rt1 > 0 AND ov1 > 0
        |       THEN round(2e0 * (ov1::DOUBLE / ct1::DOUBLE) * (ov1::DOUBLE / rt1::DOUBLE)
        |                  / ((ov1::DOUBLE / ct1::DOUBLE) + (ov1::DOUBLE / rt1::DOUBLE)), 4)
        |       WHEN ct1 > 0 AND rt1 > 0 THEN 0e0 END AS f1,
        |  CASE WHEN rt2 > 0 THEN round(ov2::DOUBLE / rt2::DOUBLE, 4) END AS r2,
        |  CASE WHEN ct2 > 0 AND rt2 > 0 AND ov2 > 0
        |       THEN round(2e0 * (ov2::DOUBLE / ct2::DOUBLE) * (ov2::DOUBLE / rt2::DOUBLE)
        |                  / ((ov2::DOUBLE / ct2::DOUBLE) + (ov2::DOUBLE / rt2::DOUBLE)), 4)
        |       WHEN ct2 > 0 AND rt2 > 0 THEN 0e0 END AS f2,
        |  round(sqrt(sqrt(
        |    (((ov1+1)::DOUBLE / (ct1+1)::DOUBLE) * ((ov2+1)::DOUBLE / (ct2+1)::DOUBLE))
        |    * ((ov3+1)::DOUBLE / (ct3+1)::DOUBLE) * ((ov4+1)::DOUBLE / (ct4+1)::DOUBLE)
        |  )), 4) AS bleu_sqrt
        |FROM w JOIN lens l USING (doc_id) ORDER BY l.doc_id""".stripMargin,
    "q_edit_similarity" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 200
        |), p AS (
        |  SELECT a.doc_id, a.text AS ta, b.text AS tb
        |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
        |)
        |SELECT doc_id, levenshtein(ta, tb)::BIGINT AS edit_dist,
        |  CASE WHEN greatest(length(ta), length(tb)) > 0
        |       THEN round(1e0 - levenshtein(ta, tb)::DOUBLE
        |                  / greatest(length(ta), length(tb))::DOUBLE, 4)
        |       ELSE 1e0 END AS edit_sim
        |FROM p ORDER BY doc_id""".stripMargin,
    "q_fuzzy_join" -> (minhashCtes(16, 8) + fuzzyJoinSuffix(0)),
    "q_fuzzy_capped" -> (minhashCtes(16, 8) + fuzzyJoinSuffix(1)),
    "q_dedup_clusters" ->
      ("WITH RECURSIVE " + minhashCtes(16, 8).stripPrefix("WITH ") +
        """, near AS (
          |  SELECT a, b FROM est WHERE est_jaccard >= 0.5
          |), edges AS (
          |  SELECT a AS src, b AS dst FROM near UNION SELECT b, a FROM near
          |), reach(v, l) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT e.src, r.l FROM edges e JOIN reach r ON r.v = e.dst
          |)
          |SELECT v AS doc_id, min(l) AS component
          |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin),
    "q_dedup_verified" ->
      (minhashCtes(16, 8) + verifiedJacSql),
    "q_dedup_capped" ->
      (minhashCtes(16, 8, maxBucket = 2) + verifiedJacSql),
    "q_embedding_neardup" -> {
      def dotSql(a: String, b: String) =
        s"list_sum(list_transform(range(1, ${embeddingDim + 1}), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500
         |), p AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b,
         |    ${dotSql("a.embedding", "b.embedding")} /
         |    (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) AS sim
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id
         |)
         |SELECT a, b, round(sim, 4) AS sim_r FROM p
         |WHERE sim >= 0.4 AND NOT isnan(sim) ORDER BY a, b""".stripMargin
    },
    // documents text is ASCII, so DuckDB's char-based substr matches
    // the engine's byte-range frames exactly
    "q_frame_sample" ->
      """WITH t AS (
        |  SELECT doc_id, text, length(text) AS len FROM documents
        |), f AS (
        |  SELECT doc_id, text, len, greatest(1, least(4, len // 64)) AS n FROM t
        |), g AS (
        |  SELECT doc_id, u.i AS frame_index, (len * u.i) // n AS off,
        |    least(64, len - (len * u.i) // n) AS fb, text
        |  FROM f, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) u
        |)
        |SELECT doc_id AS id, CAST(frame_index AS INTEGER) AS frame_index,
        |  CAST(off AS BIGINT) AS frame_offset, CAST(fb AS INTEGER) AS frame_bytes,
        |  md5(substr(text, CAST(off AS INTEGER) + 1, fb)) AS frame_md5
        |FROM g ORDER BY id, frame_index""".stripMargin,
    "q_multimodal_decode" ->
      """SELECT doc_id AS id,
        |  octet_length(encode(text))::INTEGER AS byte_len,
        |  md5(text) AS content_md5,
        |  'bin' AS format,
        |  (16 + ('0x' || substr(md5(text),1,4))::INTEGER % 240)::INTEGER AS width,
        |  (16 + ('0x' || substr(md5(text),5,4))::INTEGER % 240)::INTEGER AS height
        |FROM documents ORDER BY id""".stripMargin,
    // PNG dims from the IHDR header: width/height are big-endian u32 at
    // byte offsets 17-20 / 21-24 → hex-string offsets 33 / 41. The
    // engine decodes the whole raster (ImageIO), so matching the header
    // proves the real decode agrees with the container metadata.
    "q_image_decode" ->
      s"""WITH raw AS (
         |  SELECT * FROM read_json('$imagesFixture', format='newline_delimited')
         |), b AS (
         |  SELECT id, from_base64(b64) AS blob FROM raw
         |), h AS (
         |  SELECT id, blob, hex(blob) AS hx FROM b
         |)
         |SELECT id,
         |  octet_length(blob)::INTEGER AS byte_len,
         |  CASE WHEN substr(hx, 1, 6) = 'FFD8FF' THEN 'jpeg'
         |       WHEN substr(hx, 1, 8) = '89504E47' THEN 'png'
         |       WHEN substr(hx, 1, 8) = '52494646' THEN 'riff'
         |       ELSE 'bin' END AS format,
         |  CASE WHEN substr(hx, 1, 8) = '89504E47'
         |       THEN ('0x' || substr(hx, 33, 8))::INTEGER ELSE -1 END AS width,
         |  CASE WHEN substr(hx, 1, 8) = '89504E47'
         |       THEN ('0x' || substr(hx, 41, 8))::INTEGER ELSE -1 END AS height
         |FROM h ORDER BY id""".stripMargin,
    // GIF logical-screen width/height are little-endian u16 at byte
    // offsets 7-8 / 9-10 (after the 6-byte 'GIF89a' signature) → hex
    // chars 13-16 / 17-20 with the byte pair swapped. Frame count
    // comes from the generator's ground truth (`n_frames` in the
    // fixture); the engine must recover it via ImageReader. The
    // resize_sample stage is fully predicted: one 16×16 frame per
    // decodable GIF, nothing for the quarantine row.
    "q_gif_frames" ->
      s"""WITH raw AS (
         |  SELECT * FROM read_json('$gifsFixture', format='newline_delimited')
         |), h AS (
         |  SELECT id, n_frames, hex(from_base64(b64)) AS hx FROM raw
         |), gif AS (
         |  SELECT id, n_frames,
         |    ('0x' || substr(hx, 15, 2) || substr(hx, 13, 2))::INTEGER AS w,
         |    ('0x' || substr(hx, 19, 2) || substr(hx, 17, 2))::INTEGER AS h
         |  FROM h WHERE substr(hx, 1, 8) = '47494638'
         |), sampled AS (
         |  SELECT 'sample' AS stage, id,
         |    CAST((n_frames * u.i) // least(4, n_frames) AS INTEGER) AS frame_index,
         |    w AS width, h AS height
         |  FROM gif,
         |    LATERAL (SELECT unnest(generate_series(0, least(4, n_frames) - 1)) AS i) u
         |), resized AS (
         |  SELECT 'resize_sample' AS stage, id,
         |    0::INTEGER AS frame_index, 16::INTEGER AS width, 16::INTEGER AS height
         |  FROM gif
         |)
         |SELECT * FROM sampled UNION ALL SELECT * FROM resized
         |ORDER BY stage, id, frame_index""".stripMargin,
    // All three decodeAudio containers parsed independently from their
    // header bytes (byte N, 0-based = hex chars 2N+1..2N+2):
    //  - WAV/RIFF: canonical 44-byte header, little-endian (byte pairs
    //    swapped) — channels @ 22, rate @ 24, block align @ 32,
    //    bits @ 34, data size @ 40.
    //  - AIFF: big-endian FORM/AIFF with COMM first — channels @ 20,
    //    frame count @ 22, bits @ 26, then the sample rate as an
    //    80-bit extended float @ 28: biased-16383 exponent u16 +
    //    mantissa with explicit leading 1, so
    //    rate = mant_hi32 >> (16383 + 31 - exponent).
    //  - AU: big-endian u32 header — data size @ 8, encoding @ 12
    //    (2 = 8-bit, 3 = 16-bit linear PCM), rate @ 16, channels @ 20.
    // The non-audio row pins the -1 quarantine under the oracle.
    "q_audio_decode" ->
      s"""WITH raw AS (
         |  SELECT * FROM read_json('$audioFixture', format='newline_delimited')
         |), b AS (
         |  SELECT id, from_base64(b64) AS blob FROM raw
         |), h AS (
         |  SELECT id, blob, hex(blob) AS hx,
         |    CASE WHEN substr(hex(blob), 1, 8) = '52494646' THEN 'riff'
         |         WHEN substr(hex(blob), 1, 8) = '464F524D'
         |          AND substr(hex(blob), 17, 8) = '41494646' THEN 'aiff'
         |         WHEN substr(hex(blob), 1, 8) = '2E736E64' THEN 'au'
         |         ELSE 'bin' END AS format
         |  FROM b
         |), p AS (
         |  SELECT id, blob, hx, format,
         |    CASE format
         |      WHEN 'riff' THEN ('0x' || substr(hx, 55, 2) || substr(hx, 53, 2)
         |                             || substr(hx, 51, 2) || substr(hx, 49, 2))::INTEGER
         |      WHEN 'aiff' THEN ((('0x' || substr(hx, 61, 8))::BIGINT)
         |                        >> (16414 - ('0x' || substr(hx, 57, 4))::INTEGER))::INTEGER
         |      WHEN 'au' THEN ('0x' || substr(hx, 33, 8))::INTEGER
         |      ELSE -1 END AS sample_rate,
         |    CASE format
         |      WHEN 'riff' THEN ('0x' || substr(hx, 47, 2) || substr(hx, 45, 2))::INTEGER
         |      WHEN 'aiff' THEN ('0x' || substr(hx, 41, 4))::INTEGER
         |      WHEN 'au' THEN ('0x' || substr(hx, 41, 8))::INTEGER
         |      ELSE -1 END AS channels,
         |    CASE format
         |      WHEN 'riff' THEN ('0x' || substr(hx, 71, 2) || substr(hx, 69, 2))::INTEGER
         |      WHEN 'aiff' THEN ('0x' || substr(hx, 53, 4))::INTEGER
         |      WHEN 'au' THEN CASE ('0x' || substr(hx, 25, 8))::INTEGER
         |                       WHEN 2 THEN 8 WHEN 3 THEN 16 ELSE -1 END
         |      ELSE -1 END AS bits_per_sample
         |  FROM h
         |), q AS (
         |  SELECT *,
         |    CASE format
         |      WHEN 'riff' THEN ('0x' || substr(hx, 87, 2) || substr(hx, 85, 2)
         |                             || substr(hx, 83, 2) || substr(hx, 81, 2))::BIGINT
         |                       // ('0x' || substr(hx, 67, 2) || substr(hx, 65, 2))::BIGINT
         |      WHEN 'aiff' THEN ('0x' || substr(hx, 45, 8))::BIGINT
         |      WHEN 'au' THEN ('0x' || substr(hx, 17, 8))::BIGINT
         |                     // (channels * bits_per_sample // 8)
         |      ELSE -1 END AS n_frames
         |  FROM p
         |)
         |SELECT id,
         |  octet_length(blob)::INTEGER AS byte_len,
         |  format, sample_rate, channels, bits_per_sample, n_frames,
         |  CASE WHEN format = 'bin' THEN -1.0
         |       ELSE round(n_frames * 1000.0 / sample_rate, 3) END AS duration_ms
         |FROM q ORDER BY id""".stripMargin,
    "q_image_phash" ->
      (bmpDhashCtes +
        """
          |SELECT r.id,
          |  coalesce(p.w, -1)::INTEGER AS width,
          |  coalesce(p.h, -1)::INTEGER AS height,
          |  CASE WHEN p.id IS NULL THEN NULL
          |       ELSE printf('%08x%08x', p.hi, p.lo) END AS phash_hex
          |FROM raw r LEFT JOIN ph p ON r.id = p.id
          |ORDER BY r.id""".stripMargin),
    "q_image_neardup" ->
      (bmpDhashCtes +
        """
          |SELECT a.id AS a, b.id AS b,
          |  (bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)))::INTEGER AS hamming
          |FROM ph a JOIN ph b ON a.id < b.id
          |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7
          |ORDER BY a, b""".stripMargin),
    "q_audio_phash" ->
      (audioFpCtes +
        """
          |SELECT r.id,
          |  coalesce(a.n_frames, -1)::BIGINT AS n_frames,
          |  CASE WHEN a.id IS NULL THEN NULL
          |       ELSE printf('%08x%08x', a.hi, a.lo) END AS phash_hex
          |FROM au_raw r LEFT JOIN au_afp a ON r.id = a.id
          |ORDER BY r.id""".stripMargin),
    "q_audio_neardup" ->
      (audioFpCtes +
        """
          |SELECT a.id AS a, b.id AS b,
          |  (bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)))::INTEGER AS hamming
          |FROM au_afp a JOIN au_afp b ON a.id < b.id
          |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7
          |ORDER BY a, b""".stripMargin),
    // Both hash replays in ONE WITH (CTE families are disjoint by the
    // au_ prefix), then the cycle semantics: intra-exact keep-min-id
    // per byte-identical payload, exact screen = fingerprint seen in
    // cycle 1's kept set, near screen = any same-kind cycle-1 hash
    // within hamming 7 (brute force here; the engine's banded join is
    // recall-exact at this bound). Byte equality stands in for the
    // engine's md5 — same equivalence classes.
    "q_media_screen" ->
      (bmpDhashCtes + ",\n" + audioFpCtes.stripPrefix("WITH ") +
        """
          |, allmedia AS (
          |  SELECT id, hex(from_base64(b64)) AS fp FROM raw
          |  UNION ALL
          |  SELECT id + 100, hex(from_base64(b64)) AS fp FROM au_raw
          |), hashes AS (
          |  SELECT id, 'image' AS kind, hi, lo FROM ph
          |  UNION ALL
          |  SELECT id + 100, 'audio', hi, lo FROM au_afp
          |), c1 AS (
          |  SELECT * FROM allmedia WHERE id IN (1, 2, 3, 101, 110)
          |), c2 AS (
          |  SELECT * FROM allmedia WHERE id IN (2, 3, 4, 5, 6, 106, 111, 112)
          |), k1 AS (
          |  SELECT min(id) AS id, fp FROM c1 GROUP BY fp
          |), k2e AS (
          |  SELECT min(id) AS id, fp FROM c2 GROUP BY fp
          |  HAVING fp NOT IN (SELECT fp FROM k1)
          |), k2 AS (
          |  SELECT e.id FROM k2e e
          |  WHERE NOT EXISTS (
          |    SELECT 1 FROM hashes hn, hashes ho, k1
          |    WHERE hn.id = e.id AND ho.id = k1.id AND hn.kind = ho.kind
          |      AND bit_count(xor(hn.hi, ho.hi)) + bit_count(xor(hn.lo, ho.lo)) <= 7)
          |)
          |SELECT 1 AS cycle, id FROM k1
          |UNION ALL
          |SELECT 2 AS cycle, id FROM k2
          |ORDER BY cycle, id""".stripMargin))
}
