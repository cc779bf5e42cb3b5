package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-regression pins for the at-scale claims in PLANS.md: if a
  * refactor silently reintroduces a shuffle join where a broadcast is
  * intended, a global window, or a full-width scan, these fail before
  * a benchmark ever notices.
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf001)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q_dedup_incremental joins store and increment on the band equi-key") {
    val plan = planOf("q_dedup_incremental")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "cross-store candidates must come from the (band, band_hash) equi-join")
  }

  test("q_pipeline_incremental screens by equi/anti joins, never a product") {
    val plan = planOf("q_pipeline_incremental")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "exact fingerprint screen + near screen must both stay keyed joins")
  }

  test("q_text_eval's clipped overlap is keyed joins + partial aggregation, no products") {
    val plan = planOf("q_text_eval")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "the (id, n, gram) overlap must stay an equi-join, never a per-row product")
    // gram counting must combine map-side (the per-row-lambda shape
    // has no partial aggregation to give)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("the corpus-build frame adds no range exchange or id re-shuffle beyond curation_best") {
    // the frame itself, not the oracle query — the query's output
    // orderBy legitimately range-partitions for the dump
    val frame = graft.pipeline.CorpusBuild.corpusFrame(
      Tables.documents(spark, sf001), graft.pipeline.CorpusBuild.Config())
    val plan = frame.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    // the gated curriculum keeps the split+phase stages exchange-free:
    // no global sort anywhere, no sort-merge join back on doc_id
    assert(!plan.contains("rangepartitioning") && !plan.contains("RangePartitioning"),
      "corpus build must not introduce a global sort")
    assert(!plan.contains("SortMergeJoin"),
      "curriculum must read the broadcast CDF, not re-join the corpus on doc_id")
    CachedFrames.unpersistAll()
  }

  test("matvec kernels with equal-valued matrices share one cache identity") {
    // The payoff of MatVecDotsExpr's value-based equals/hashCode:
    // separately-allocated but equal matrices (two queries each
    // collecting the same centroids) must canonicalize identically, so
    // CSE, exchange reuse and the plan-keyed persist registry all hit.
    import org.apache.spark.sql.functions.col
    import graft.functions.MatVecDotsExpr
    def freshMatrix = Array(Array(1.0, 2.0), Array(3.0, 4.0))
    def frame = {
      import spark.implicits._
      Seq((1L, Seq(1f, 2f))).toDF("vec_id", "embedding")
        .select(col("vec_id"),
          MatVecDotsExpr.matVecDots(col("embedding"), freshMatrix).as("dots"))
    }
    val (a, b) = (frame, frame) // two builds, two matrix allocations
    assert(a.queryExecution.analyzed.canonicalized == b.queryExecution.analyzed.canonicalized,
      "equal-valued matrices must canonicalize to one plan")
    CachedFrames.unpersistAll()
    CachedFrames.persistOnce(a)
    CachedFrames.persistOnce(b)
    assert(CachedFrames.size == 1, "persist registry must dedupe the two builds")
    CachedFrames.unpersistAll()
    // and a genuinely different matrix must NOT collapse
    val other = {
      import spark.implicits._
      Seq((1L, Seq(1f, 2f))).toDF("vec_id", "embedding")
        .select(col("vec_id"),
          MatVecDotsExpr.matVecDots(col("embedding"),
            Array(Array(9.0, 2.0), Array(3.0, 4.0))).as("dots"))
    }
    assert(a.queryExecution.analyzed.canonicalized != other.queryExecution.analyzed.canonicalized)
  }

  test("q_enrich_obt joins its dims by broadcast, never shuffle") {
    val plan = planOf("q_enrich_obt")
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!plan.contains("SortMergeJoin"), "OBT join must not shuffle the fact")
  }

  test("q_enrich_obt scan prunes columns and pushes join-key filters") {
    val plan = planOf("q_enrich_obt")
    assert(plan.contains("PushedFilters: [IsNotNull(l_partkey), IsNotNull(l_suppkey)]")
      || plan.contains("PushedFilters: [IsNotNull(l_suppkey), IsNotNull(l_partkey)]"))
    assert(!plan.contains("l_comment"), "unprojected columns must not be read")
  }

  test("q_surrogate_id has no single-partition global window") {
    val plan = planOf("q_surrogate_id")
    assert(!plan.contains("Window"), "sequential id must use partition offsets, not a window")
  }

  test("q_text_stats reads only the needed columns") {
    val plan = planOf("q_text_stats")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("q_similarity_topk broadcasts the query side and pushes partial top-k") {
    val plan = planOf("q_similarity_topk")
    assert(plan.contains("BroadcastNestedLoopJoin"), "query set must broadcast")
    assert(plan.contains("WindowGroupLimit"), "top-k must prune before the rank shuffle")
  }

  test("q_ann_topk candidates move ids only — no vector-carrying dedup") {
    val plan = planOf("q_ann_topk")
    assert(plan.contains("BroadcastHashJoin"), "query buckets must broadcast")
    // The candidate distinct must aggregate (qid, nid) id pairs; an
    // embedding column in any aggregate grouping key means the r2
    // scale-killer (dedup shuffling 64-float vectors per candidate)
    // has returned.
    val keyLines = plan.linesIterator.filter(_.trim.startsWith("Keys")).toSeq
    assert(keyLines.nonEmpty, "expected HashAggregate keys in the plan")
    assert(keyLines.forall(l => !l.contains("vec")),
      s"vector column in aggregate keys:\n${keyLines.mkString("\n")}")
  }

  test("q_ann_neardup candidates move ids only and never plan a cross join") {
    val plan = planOf("q_ann_neardup")
    // same scale contract as q_ann_topk: the self-join + candidate
    // distinct operate on (table, bucket, salt, id) rows; a vector in
    // any aggregate grouping key or a cartesian node means the
    // all-pairs/vector-shuffling regression returned
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"ANN near-dup regressed to all-pairs:\n$plan")
    val keyLines = plan.linesIterator.filter(_.trim.startsWith("Keys")).toSeq
    assert(keyLines.nonEmpty, "expected HashAggregate keys in the plan")
    assert(keyLines.forall(l => !l.contains("vec")),
      s"vector column in aggregate keys:\n${keyLines.mkString("\n")}")
  }

  test("q_pipeline_curation's relational prefix broadcasts small sides, no cartesian") {
    // The full query's explain is opaque — mixSources/packSequences
    // materialize through partition-offset RDD passes, so the final
    // plan is one Scan ExistingRDD. Audit the relational prefix
    // (dedup → quality → decontaminate-anti) that feeds them, built
    // exactly as the query builds it.
    import org.apache.spark.sql.functions._
    import graft.ops.{Curation, Dedup, TextAnalysis}
    val d = Tables.documents(spark, sf001)
    val corpus = d.filter(col("doc_id") >= 25)
    val bench = d.filter(col("doc_id") < 25)
    val deduped = Dedup.dedupNear(corpus, "text", "doc_id",
      k = 16, bands = 8, shingleN = 3, threshold = 0.5,
      baseHasher = TextAnalysis.baseHash _)
    val statCols = TextAnalysis.stats(col("text")).map { case (n, c) => c.as(n) }
    val stats = deduped.select(
      col("doc_id") +: col("source") +: col("text") +: statCols: _*)
    val quality = stats.filter(TextAnalysis.qualityPredicate(
      col("n_tokens"), col("alpha_ratio"), col("avg_token_len")))
    val contaminated = Curation.decontaminate(quality, bench, "text", "doc_id",
        shingleN = 3, minShared = 2L)
      .select("doc_id").distinct()
    val clean = quality.join(contaminated, Seq("doc_id"), "left_anti")
    val plan = clean.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("BroadcastHashJoin"),
      "bench grams / anti joins must broadcast")
    assert(!plan.contains("CartesianProduct"),
      s"pipeline stage regressed to a cartesian join:\n$plan")
  }

  test("q1_pricing_summary aggregates with a map-side partial phase") {
    val plan = planOf("q1_pricing_summary")
    assert(plan.contains("HashAggregate"))
    assert(plan.contains("partial_sum") || plan.contains("Partial"),
      "aggregation must combine map-side")
  }

  test("q_split_assign and q_stratified_sample are single-pass projections") {
    for (name <- Seq("q_split_assign", "q_stratified_sample")) {
      val plan = planOf(name)
      // one range exchange for the oracle orderBy is allowed; any hash
      // exchange means the pure-projection claim broke
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$name must not shuffle:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("HashAggregate"),
        s"$name must stay a projection/filter")
    }
  }

  test("q_decontaminate broadcasts the bench side and never reshuffles exploded grams") {
    val plan = planOf("q_decontaminate")
    assert(plan.contains("BroadcastHashJoin"), "bench grams must broadcast")
    assert(!plan.contains("SortMergeJoin"), "corpus must not shuffle by content")
    // the only hash exchanges allowed are the keyed pre-explode
    // repartitions (partitioning on the doc id alone); the per-doc
    // distinct and the overlap count must reuse that distribution
    val exchanges = plan.linesIterator
      .filter(_.contains("Arguments: hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, "expected the keyed pre-explode repartitions")
    assert(exchanges.forall(l => !l.contains("__sh")),
      s"gram-keyed exchange found — distinct/count reshuffles content:\n${exchanges.mkString("\n")}")
  }

  test("q_dedup_lines broadcasts the banned set and shuffles line text once") {
    val plan = planOf("q_dedup_lines")
    assert(plan.contains("BroadcastHashJoin"),
      "the over-threshold line set must broadcast onto the exploded lines")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"line text must never shuffle by content:\n$plan")
    // The only line-text-carrying exchange is the keyed pre-explode
    // repartition by doc id; the ban count shuffles fixed-width hashes
    // and the final per-doc regroup reuses the pre-explode
    // distribution (no exchange between the explode and the regroup).
    val exchanges = plan.linesIterator
      .filter(_.contains("Arguments: hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, "expected the keyed pre-explode repartition")
    assert(exchanges.forall(l => !l.contains("__line")),
      s"line-content-keyed exchange found:\n${exchanges.mkString("\n")}")
  }

  test("q_weighted_sample bounds the race cut without a global sort") {
    val plan = planOf("q_weighted_sample")
    assert(plan.contains("TakeOrderedAndProject"),
      "the k-smallest-keys cut must lower to TakeOrderedAndProject")
  }

  test("q_zorder's key is a pure projection — no exchange before the display sort") {
    val plan = planOf("q_zorder")
    assert(!plan.contains("hashpartitioning"),
      s"the Morton key must not shuffle anything:\n$plan")
    assert(!plan.contains("HashAggregate"), "no aggregation belongs in a layout key")
  }

  test("q_profile is one aggregation pass regardless of column count") {
    val plan = planOf("q_profile")
    // formatted explain prints each node in the tree AND as a detail
    // header — count the numbered detail headers only
    val aggs = plan.linesIterator.count(_.matches("""\(\d+\) HashAggregate.*"""))
    assert(aggs == 2, s"expected exactly partial+final HashAggregate, got $aggs:\n$plan")
    assert(plan.linesIterator.count(_.contains("Arguments: SinglePartition")) == 1,
      s"all column stats must ride ONE global agg exchange:\n$plan")
  }

  test("q_histogram is one partial+final aggregation over one scan") {
    val plan = planOf("q_histogram")
    val aggs = plan.linesIterator.count(_.matches("""\(\d+\) HashAggregate.*"""))
    assert(aggs == 2, s"expected exactly partial+final HashAggregate, got $aggs:\n$plan")
    val scans = plan.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans == 1, s"histogram must profile in one scan:\n$plan")
  }

  test("q_feed_audit: one user-key exchange feeds the lag window AND the agg") {
    val plan = planOf("q_feed_audit")
    val userExchanges = plan.linesIterator
      .count(l => l.contains("hashpartitioning(user_id"))
    assert(userExchanges == 1,
      s"window + reduction must share ONE user exchange:\n$plan")
  }

  test("q_token_budget: one source-key exchange, no global window") {
    val plan = planOf("q_token_budget")
    assert(!plan.contains("No Partition Defined"),
      "the running sum must be per-source, never global")
    val srcExchanges = plan.linesIterator
      .count(l => l.contains("hashpartitioning(source"))
    assert(srcExchanges == 1,
      s"the cumulative window needs exactly one group exchange:\n$plan")
  }

  test("q_importance_weights: models join by term; only the scalar frame nest-loops") {
    val plan = planOf("q_importance_weights")
    assert(!plan.contains("CartesianProduct"),
      s"nothing here is an unkeyed product:\n$plan")
    // only the three 1-row scalar-statistics frames ride nested-loop
    // (broadcast cross) joins; both model joins must stay term equi-joins
    val bnlj = plan.linesIterator.count(_.matches("""\(\d+\) BroadcastNestedLoopJoin.*"""))
    assert(bnlj <= 3, s"only the scalar cross-joins may nest-loop, got $bnlj:\n$plan")
    val equiJoins = plan.linesIterator.count(l =>
      l.matches("""\(\d+\) (BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin).*"""))
    assert(equiJoins >= 2, s"corpus+target model joins must be keyed:\n$plan")
    // the models are cached: totals derive from the vocabulary-sized
    // count frames, not from extra corpus scans
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"model counts must be persisted, not recomputed per consumer:\n$plan")
  }

  test("q_resample: spine and period joins stay keyed, never a product") {
    val plan = planOf("q_resample")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"spine ⋈ per-period frames must join on (entity, period):\n$plan")
  }

  test("q_oov_rate broadcasts the bounded vocabulary") {
    val plan = planOf("q_oov_rate")
    assert(plan.contains("BroadcastHashJoin"),
      s"the k-row vocab must broadcast into the token stream:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the vocab cut must remain bounded (no global sort):\n$plan")
  }

  test("q_drift_psi costs exactly two scans — one histogram per side") {
    val plan = planOf("q_drift_psi")
    val scans = plan.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans == 2, s"drift must be two profile scans, got $scans:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no unkeyed product:\n$plan")
  }

  test("q_bigram_logprob joins its models by key, never a product") {
    val plan = planOf("q_bigram_logprob")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair/prefix model joins must stay keyed:\n$plan")
  }

  test("q_inverted_index bounds posting lists before the term shuffle") {
    val plan = planOf("q_inverted_index")
    assert(plan.contains("WindowGroupLimit"),
      "the maxPostings rank filter must prune map-side (WindowGroupLimit)")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"stats⋈postings must stay a term equi-join:\n$plan")
  }

  test("q_vocab_topk bounds the cut without a global sort") {
    val plan = planOf("q_vocab_topk")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k must lower to TakeOrderedAndProject, not Sort+Limit")
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      "token counts must combine map-side")
  }

  test("q_range_join stays an equi-join on the bin key — no nested loop") {
    val plan = planOf("q_range_join")
    assert(plan.contains("BroadcastHashJoin"), "binned intervals must broadcast")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join regressed to a theta join:\n$plan")
  }

  test("q_interval_overlap stays an equi-join on (bin, user) — no nested loop") {
    val plan = planOf("q_interval_overlap")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval overlap regressed to a theta join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"),
      s"expected a keyed join on the derived bin:\n$plan")
    // the single-bin overlap-start accounting means no dedup pass
    assert(!plan.contains("HashAggregate(keys=[click_id") && !plan.contains("Deduplicate"),
      "pairs must meet exactly once — no post-join distinct")
  }

  test("q_attribution joins on the user equi-key with the time range as residual") {
    val plan = planOf("q_attribution")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin")
      || plan.contains("ShuffledHashJoin"),
      s"expected an equi join on user_id:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"attribution regressed to a theta join:\n$plan")
  }

  test("q_asof_join plans the union+window shape with no join node") {
    val plan = planOf("q_asof_join")
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"),
      "expected the running-window resolution")
  }

  test("safeCast type choice is ONE aggregation pass: partial+final agg, single exchange") {
    // The q_safe_cast driver query feeds chooseTypes a repaired events
    // projection; pin that exact agg shape (r7 watch item: 1.5s→3.2s
    // bench drift — clean re-measure returned 1.51s, plan unchanged;
    // this pin makes any future real plan change fail loudly).
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf001).select(
      col("event_id"),
      when(col("value").isNotNull,
        when(col("value") > 50, lit("True")).otherwise(lit("False"))).as("flag"),
      col("event_type").as("label"))
    val repaired = ev.withColumn("flag", graft.ops.StringRepair.repair(col("flag")))
    val agg = graft.ops.SafeCast.nullCountAgg(
      repaired, Seq("flag", "label"), graft.ops.SafeCast.yelpAttributeCandidates)
    val plan = agg.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val nAggs = plan.linesIterator.count(_.trim.matches("""\(\d+\) HashAggregate.*"""))
    assert(nAggs == 2, s"expected exactly partial+final HashAggregate, got $nAggs:\n$plan")
    // count detail-section headers only — the formatted explain prints
    // each node once in the tree and once as a "(n) Node" detail block
    val exchanges = plan.linesIterator.filter(_.trim.matches("""\(\d+\) Exchange.*""")).toSeq
    assert(exchanges.size == 1, s"expected one exchange:\n${exchanges.mkString("\n")}")
    assert(plan.contains("SinglePartition"), "the one exchange must be the global-agg gather")
    assert(!plan.contains("Join"), "null-count agg must not join")
  }

  test("q_sessionize: one user-key exchange feeds both windows AND the session agg") {
    val plan = planOf("q_sessionize")
    // the gap-lag window, the running-sum window, and the
    // (user, session_idx) aggregation must all reuse the single
    // hashpartitioning(user_id) exchange — partitioning on a prefix of
    // the grouping keys satisfies the agg's distribution, so the only
    // other exchange is the display orderBy's range partitioning
    val hashEx = plan.linesIterator
      .filter(_.contains("Arguments: hashpartitioning")).toSeq
    assert(hashEx.size == 1, s"expected one hash exchange:\n${hashEx.mkString("\n")}")
    val windows = plan.linesIterator.count(_.trim.matches("""\(\d+\) Window.*"""))
    assert(windows == 2, s"expected the lag + running-sum windows, got $windows")
    assert(!plan.contains("event_type"), "unused columns must not be read")
  }

  test("q_kmv_distinct prunes to k rows per group before the rank shuffle") {
    val plan = planOf("q_kmv_distinct")
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$plan")
  }

  test("q_cms_topk broadcasts the sketch grid and bounds the cut") {
    val plan = planOf("q_cms_topk")
    assert(plan.contains("BroadcastHashJoin"), "d×w grid must broadcast")
    assert(plan.contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  test("q_tfidf_topk broadcasts corpus scalars and prunes per-doc top-k map-side") {
    val plan = planOf("q_tfidf_topk")
    assert(plan.contains("WindowGroupLimit"), "rank cut must prune before the shuffle")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "the 1-row corpus-size frame must broadcast")
  }

  test("q3 broadcasts the customer dim and bounds the top-10") {
    val plan = planOf("q3_shipping_priority")
    assert(plan.contains("BroadcastHashJoin"), "filtered customer dim must broadcast")
    assert(plan.contains("TakeOrderedAndProject"), "top-10 must not global-sort")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q5 broadcasts every dimension — at most the fact⋈orders join shuffles") {
    val plan = planOf("q5_local_supplier")
    val shuffleJoins = plan.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(shuffleJoins <= 1,
      s"only lineitem⋈orders may shuffle, got $shuffleJoins shuffle joins:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      "customer/supplier/nation-region must broadcast")
  }

  test("q17 decorrelates to one lineitem scan") {
    val plan = planOf("q17_small_quantity")
    val scans = plan.linesIterator.count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 2, // lineitem once + the part dim; naive decorrelation scans 3
      s"the correlated avg must not re-scan lineitem (want 2 scans, got $scans):\n$plan")
    assert(plan.contains("BroadcastHashJoin"), "filtered part dim must broadcast")
  }

  test("q18's having-subquery plans as a semi-join, not a product") {
    val plan = planOf("q18_large_orders")
    assert(plan.contains("LeftSemi"), "IN-subquery must lower to a left-semi join")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_span_dedup: keyed joins, doc-partitioned windows, one shared gram build") {
    val plan = planOf("q_span_dedup")
    assert(!plan.contains("CartesianProduct"),
      "duplicated-gram membership must be an equi-(semi-)join on the gram hash")
    // both windows (gram leads, interval union) sort within doc_id
    // partitions — a global single-partition window dies at corpus scale
    assert(plan.contains("Arguments: [doc_id"), "window sorts must key on doc_id")
    // the gram frame persists once and feeds doc-frequency AND the
    // occurrence side — without the cache the corpus tokenizes twice
    assert(plan.contains("InMemoryTableScan") || plan.contains("InMemoryRelation"),
      "shared gram frame must come from the persist registry")
  }

  test("q_hard_negatives: queries broadcast; label filter precedes the rank shuffle") {
    val plan = planOf("q_hard_negatives")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "the scored cross product must broadcast the bounded query side")
    assert(plan.contains("WindowGroupLimit"),
      "per-query top-k must prune map-side before the rank exchange")
    assert(!plan.contains("SortMergeJoin"), "corpus must never shuffle for scoring")
  }

  test("q_chunk_docs is one scan and one explode — no shuffle at all") {
    val plan = planOf("q_chunk_docs")
    // the only exchange allowed is the display orderBy's range partition
    val exchanges = "Exchange \\(\\d+\\)".r.findAllIn(plan).size
    assert(exchanges <= 1, s"chunking must not shuffle (found $exchanges exchanges):\n$plan")
    assert(plan.contains("Generate"), "chunk starts explode from a sequence")
  }

  test("q_bm25_search: term equi-joins, one scalar nest-loop, bounded top-k") {
    val plan = planOf("q_bm25_search")
    assert(!plan.contains("CartesianProduct"), s"no unkeyed product:\n$plan")
    // only the 1-row (N, avgdl) stats frame may ride a nested-loop join
    val bnlj = plan.linesIterator.count(_.matches("""\(\d+\) BroadcastNestedLoopJoin.*"""))
    assert(bnlj <= 1, s"only the scalar cross-join may nest-loop, got $bnlj:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      "per-query top-k must prune map-side before the rank exchange")
    // the per-(doc, term) tf frame is cached — doc lengths and document
    // frequencies both derive from it without a second corpus pass
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"tf frame must be persisted, not recomputed per consumer:\n$plan")
  }

  test("q_quality_classifier: model joins by term; only corpus sizes nest-loop") {
    val plan = planOf("q_quality_classifier")
    assert(!plan.contains("CartesianProduct"), s"no unkeyed product:\n$plan")
    // two 1-row cross joins are legitimate: N_pos × N_neg builds the
    // sizes frame, and sizes rides along the vocabulary frame
    val bnlj = plan.linesIterator.count(_.matches("""\(\d+\) BroadcastNestedLoopJoin.*"""))
    assert(bnlj <= 2, s"only the scalar-size cross-joins may nest-loop, got $bnlj:\n$plan")
    val equiJoins = plan.linesIterator.count(l =>
      l.matches("""\(\d+\) (BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin).*"""))
    assert(equiJoins >= 2, s"df full-outer + score joins must be keyed:\n$plan")
  }

  test("q_hybrid_retrieval: fusion adds no joins beyond its two retrieval arms") {
    val plan = planOf("q_hybrid_retrieval")
    assert(!plan.contains("CartesianProduct"), s"no unkeyed product:\n$plan")
    // the only nest-loops allowed are the retrieval arms' own: the
    // BM25 scalar stats cross-join and the brute-force broadcast score
    val bnlj = plan.linesIterator.count(_.matches("""\(\d+\) BroadcastNestedLoopJoin.*"""))
    assert(bnlj <= 2, s"fusion itself must join nothing, got $bnlj nest-loops:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      "both arms and the fused re-rank prune top-k map-side")
    assert(plan.contains("Union"), "rankings fuse by union + groupBy, not a join")
  }

  test("q_k_anonymity is one partial+final aggregation over a pruned scan") {
    val plan = planOf("q_k_anonymity")
    // exactly two exchanges: the aggregation's hash shuffle + the
    // display orderBy's range partition
    val exchanges = "Exchange \\(\\d+\\)".r.findAllIn(plan).size
    assert(exchanges == 2, s"QI classes must aggregate in one shuffle:\n$plan")
    assert("HashAggregate \\(\\d+\\)".r.findAllIn(plan).size == 2,
      "partial+final hash aggregation expected")
    assert(!plan.contains("c_name"), "non-QI columns must not be read")
  }

  test("score curves and the vocabulary CDF plan RunningTotals: no cache, no offsets") {
    // frames earlier suites left cached would be substituted into the plan
    CachedFrames.unpersistAll()
    for (name <- Seq("q_filter_auc", "q_pr_curve", "q_negative_sampling")) {
      val plan = planOf(name)
      assert(plan.matches("""(?s).*\(\d+\) RunningTotals\b.*"""),
        s"$name must plan the RunningTotals exec:\n$plan")
      assert(!plan.contains("InMemoryRelation") && !plan.contains("InMemoryTableScan"),
        s"$name must not persist its ordered frame:\n$plan")
      // both passes read one shuffle: no partition-id stamping and no
      // offsets window joined back onto the frame
      assert(!plan.toLowerCase.contains("spark_partition_id"), s"$name:\n$plan")
      assert(!plan.linesIterator.exists(_.matches("""\(\d+\) Window.*""")),
        s"$name must not plan an offsets window:\n$plan")
    }
  }

  test("q_classifier_report: one class aggregation and a one-task window, no products") {
    CachedFrames.unpersistAll()
    val plan = planOf("q_classifier_report")
    for (node <- Seq("InMemoryRelation", "CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!plan.contains(node), s"unexpected $node:\n$plan")
    // below the display sort's range exchange: the class groupBy's hash
    // exchange and the totals window's single-partition gather
    val below = plan.linesIterator.count(l =>
      l.contains("Arguments: hashpartitioning") || l.contains("Arguments: SinglePartition"))
    assert(below <= 2, s"expected at most two exchanges below the sort:\n$plan")
  }

  test("pageRank iterations pay ONE edge-list join each — degree pre-fused") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // mirror the loop's context: the (src, dst, __deg) contribution
    // frame is persisted once, so an iteration's plan must show a
    // single keyed join (edges ⋈ ranks) — a refactor that re-joins
    // out-degrees per iteration doubles the join count and fails here
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 2L)).toDF("src", "dst").distinct()
    val contribEdges = CachedFrames.persistOnce(
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("__deg")), Seq("src")))
    val ranks = Seq((1L, 0.25), (2L, 0.25), (3L, 0.5)).toDF("node", "rank")
    val plan = graft.ops.Graph.contributions(contribEdges, ranks)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the explain expands the cached frames' own build plans — count
    // only the iteration's tree, which prints before the first
    // InMemoryRelation expansion (a per-iteration degree re-join
    // would appear there, above the edge cache scan)
    val iterationTree = plan.linesIterator
      .takeWhile(!_.contains("InMemoryRelation")).toSeq
    val joins = iterationTree.count(l =>
      l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin"))
    assert(joins == 1,
      s"iteration must join the edge list exactly once, got $joins:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no unkeyed products in the iteration:\n$plan")
    graft.CachedFrames.unpersistAll()
  }
}
