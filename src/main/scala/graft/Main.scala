package graft

import graft.pipeline.{CorpusBuild, CrawlCycle, GoldIncrement, PipelineConfig, Pipelines, RunAll}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** CLI entry point mirroring the reference's dispatch
  * (`/root/reference/app.py:20-70`):
  * `--pipeline {extract|clean|enrich|run-all|build-corpus|compact-files|dedup-increment|media-cycle|gold-increment|check|drift|privacy|ann-index|ann-append|ann-compact|ann-query}`
  * plus the known pipeline args; unknown `--k v` pairs pass through
  * (how enrich receives `--dimension_inputs` /
  * `--dimension_entity_types`, both CSV — `enrich.py:22-23`). Typed
  * Scala dispatch replaces `import_module` + `getattr`.
  *
  * Example (full medallion run over the checked-in fixtures):
  * {{{
  *   runMain graft.Main --pipeline extract --entity_type business \
  *     --input fixtures/business.ndjson --output /tmp/lake/bronze/business \
  *     --bucket_column business_id --buckets 8
  *   runMain graft.Main --pipeline clean --entity_type business \
  *     --input /tmp/lake/bronze/business --output /tmp/lake/silver/business
  *   runMain graft.Main --pipeline enrich --entity_type checkin \
  *     --input /tmp/lake/silver/checkin --output /tmp/lake/silver/checkin_obt \
  *     --dimension_inputs /tmp/lake/silver/business \
  *     --dimension_entity_types business
  * }}}
  */
object Main {

  /** Strict `--key value` pairing, plus `--key=value`. A stray token
    * or value-less flag used to shift every SUBSEQUENT pairing
    * silently (`--verbose --input a` parsed as `verbose=--input` and
    * dropped the input) — malformed command lines now fail loudly
    * instead of running with wrong values. A value that legitimately
    * begins with `--` (a rules expression, a passthrough pattern)
    * would be indistinguishable from a forgotten value in pair form,
    * so it must use the `--key=value` form.
    */
  def parseArgs(args: Array[String]): Map[String, String] = {
    val (inline, positional) = args.partition(a =>
      a.startsWith("--") && a.contains("="))
    val fromInline = inline.map { a =>
      val Array(k, v) = a.stripPrefix("--").split("=", 2)
      k -> v
    }
    val fromPairs = positional.sliding(2, 2).map {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.stripPrefix("--") -> v
      case bad =>
        sys.error(s"malformed args near '${bad.mkString(" ")}': expected " +
          "--key value pairs (use --key=value for values beginning with --)")
    }
    (fromInline.iterator ++ fromPairs).toMap
  }

  /** Dispatch on a parsed arg map against an EXISTING session — the
    * whole CLI minus process lifecycle, so specs can drive pipelines
    * end-to-end without stopping the shared test session. Returns the
    * result frame; every pipeline has already written `--output`.
    */
  def run(spark: SparkSession, opts: Map[String, String]): DataFrame = {
    def req(k: String): String = opts.getOrElse(
      k, sys.error(s"missing required arg --$k (got: ${opts.keys.mkString(", ")})"))
    def medallionCfg = PipelineConfig(
      entityType = req("entity_type"),
      input = req("input"),
      output = req("output"),
      partitionColumn = opts.get("partition_column"),
      bucketColumn = opts.get("bucket_column"),
      buckets = opts.get("buckets").map(_.toInt))

    req("pipeline") match {
      case "extract" => Pipelines.extract(spark, medallionCfg)
      case "clean" =>
        Pipelines.clean(spark, medallionCfg,
          deterministicIds = opts.get("deterministic_ids").exists(_.toBoolean))
      case "enrich" =>
        // zip would TRUNCATE to the shorter list — a forgotten flag or
        // an empty CSV slot would silently drop a dimension from the
        // OBT (or feed "" to the parquet reader). Empties are stripped
        // BEFORE the length check: "".split(",") is Array("") of
        // length 1, which would otherwise pair up with a single real
        // entry and reproduce the silent drop.
        val types = opts.getOrElse("dimension_entity_types", "")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val inputs = opts.getOrElse("dimension_inputs", "")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(types.length == inputs.length,
          s"dimension_entity_types (${types.length}) and dimension_inputs " +
            s"(${inputs.length}) must pair up")
        Pipelines.enrich(spark, medallionCfg, types.zip(inputs))
      case "dedup-increment" =>
        // One crawl cycle of the X48 store lifecycle (see CrawlCycle):
        // screens the --input increment against the persisted stores
        // under --store_dir and writes them back updated.
        CrawlCycle.run(spark, CrawlCycle.Config(
          input = req("input"),
          output = req("output"),
          storeDir = req("store_dir"),
          idCol = opts.getOrElse("id_column", "doc_id"),
          textCol = opts.getOrElse("text_column", "text"),
          k = opts.get("minhash_k").map(_.toInt).getOrElse(16),
          bands = opts.get("bands").map(_.toInt).getOrElse(8),
          shingleN = opts.get("shingle_n").map(_.toInt).getOrElse(3),
          threshold = opts.get("threshold").map(_.toDouble).getOrElse(0.5),
          maxBucketSize = opts.get("max_bucket_size").map(_.toInt).getOrElse(0),
          qualityGate = !opts.get("quality_gate").contains("false"),
          ttlCycles = opts.get("ttl_cycles").map(_.toInt).getOrElse(0)))
      case "media-cycle" =>
        // One crawl cycle of the X139 MULTIMODAL store lifecycle (see
        // MediaCycle): screens the --input binary-media increment
        // exact-then-perceptual against the persisted md5 + phash
        // stores under --store_dir and writes them back updated.
        // Validate the knob PAIR before any Spark work: the pigeonhole
        // recall bound (maxHamming <= chunks - 1) is enforced deep in
        // Dedup.simhashIncrementPairs after the input is already read;
        // an inconsistent --chunks/--max_hamming should fail here with
        // a CLI-level message instead (ADVICE r20). When only --chunks
        // is passed, default max_hamming to chunks - 1 so the pair
        // stays valid by construction.
        val mcChunks = opts.get("chunks").map(_.toInt).getOrElse(8)
        val mcMaxHamming = opts.get("max_hamming").map(_.toInt)
          .getOrElse(math.min(7, mcChunks - 1))
        require(mcMaxHamming <= mcChunks - 1,
          s"--max_hamming ($mcMaxHamming) must be <= --chunks - 1 " +
            s"(${mcChunks - 1}): the banded screen is only recall-exact " +
            "within the pigeonhole bound")
        pipeline.MediaCycle.run(spark, pipeline.MediaCycle.Config(
          input = req("input"),
          output = req("output"),
          storeDir = req("store_dir"),
          maxHamming = mcMaxHamming,
          chunks = mcChunks))
      case "check" =>
        // Data-quality gate (X56): audit --input against `;`-separated
        // --rules "name:<sql boolean expr>", write the per-rule report
        // to --output. With --fail_on_violation true (default), any
        // violated rule fails the job AFTER the report is written —
        // the write-side contract a pipeline wants from its gate.
        val rules = req("rules").split(";").toSeq.map { r =>
          val Array(name, sql) = r.split(":", 2)
          graft.ops.Expectations.Rule(name.trim, expr(sql))
        }
        val report = graft.ops.Expectations.check(
          spark.read.parquet(req("input")), rules)
        report.coalesce(1).write.mode("overwrite").parquet(req("output"))
        val written = spark.read.parquet(req("output"))
        val bad = written
          .filter(col("violations") > 0)
          .select("rule", "violations").collect()
        if (bad.nonEmpty && !opts.get("fail_on_violation").contains("false"))
          sys.error("expectations violated: " + bad.map(r =>
            s"${r.getString(0)}=${r.getLong(1)}").mkString(", "))
        written
      case "gold-increment" =>
        // Incremental gold-table maintenance (X76): fold --input's
        // per-group partials into the state under --store_dir, publish
        // the finalized view to --output. History is never re-read.
        GoldIncrement.run(spark, GoldIncrement.Config(
          input = req("input"),
          output = req("output"),
          storeDir = req("store_dir"),
          groupCols = req("group_columns").split(",").map(_.trim).toSeq,
          valueCol = req("value_column")))
      case "drift" =>
        // Distribution-drift gate (X69): PSI of --input vs --baseline
        // over --column on the fixed [--lo, --hi) × --buckets grid.
        // Writes the per-bucket report to --output, then fails the job
        // when the summed PSI exceeds --max_psi (default 0.25, the
        // standard "drifted" line) — same write-then-gate contract as
        // `check`.
        val report = graft.ops.Expectations.psiReport(
          spark.read.parquet(req("baseline")),
          spark.read.parquet(req("input")),
          col(req("column")),
          lo = req("lo").toDouble, hi = req("hi").toDouble,
          nBuckets = req("buckets").toInt)
        report.coalesce(1).write.mode("overwrite").parquet(req("output"))
        CachedFrames.unpersistAll()
        val psi = spark.read.parquet(req("output"))
          .agg(org.apache.spark.sql.functions.sum("psi_contrib")).head().getDouble(0)
        val maxPsi = opts.get("max_psi").map(_.toDouble).getOrElse(0.25)
        if (psi > maxPsi)
          sys.error(f"distribution drifted: PSI $psi%.4f > $maxPsi%.4f " +
            s"on column ${req("column")}")
        spark.read.parquet(req("output"))
      case "ann-index" =>
        // Offline IVF index build (X99): train the quantizer over
        // --input, persist centroids + cell-partitioned assignments
        // under --store_dir in one atomic swap. Returns the cell
        // census (the balance report). --pq_m > 0 builds the
        // PQ-compressed layout (X104): cell rows carry m codes
        // instead of raw vectors, codebooks persist with the index.
        pipeline.AnnIndex.build(spark, pipeline.AnnIndex.Config(
          input = req("input"),
          storeDir = req("store_dir"),
          idCol = opts.getOrElse("id_column", "vec_id"),
          vecCol = opts.getOrElse("vector_column", "embedding"),
          dim = opts.get("dim").map(_.toInt).getOrElse(64),
          nCentroids = opts.get("n_centroids").map(_.toInt).getOrElse(16),
          iters = opts.get("iters").map(_.toInt).getOrElse(3),
          pqM = opts.get("pq_m").map(_.toInt).getOrElse(0),
          pqKsub = opts.get("pq_ksub").map(_.toInt).getOrElse(16)))
      case "ann-append" =>
        // Incremental index maintenance: assign --input's vectors to
        // the LIVE centroids and commit them as one new increment
        // generation (no retrain, no base rewrite). Returns the
        // post-append census spanning base + increments.
        pipeline.AnnIndex.append(
          spark, req("store_dir"), req("input"),
          idCol = opts.getOrElse("id_column", "vec_id"),
          vecCol = opts.getOrElse("vector_column", "embedding"))
      case "ann-compact" =>
        // Fold every committed increment back into one base cells
        // dataset (atomic swap; centroids unchanged).
        pipeline.AnnIndex.compact(spark, req("store_dir"))
      case "ann-query" =>
        // Online path: top-k neighbors for --queries against the
        // persisted index, probing --n_probe cells; writes --output.
        // Against a PQ store, --refine_with=<corpus path> re-ranks
        // the ADC shortlist (k × --refine_factor) by exact cosine.
        val out = pipeline.AnnIndex.query(
          spark, req("store_dir"),
          spark.read.parquet(req("queries")),
          idCol = opts.getOrElse("id_column", "vec_id"),
          vecCol = opts.getOrElse("vector_column", "embedding"),
          k = opts.get("k").map(_.toInt).getOrElse(10),
          nProbe = opts.get("n_probe").map(_.toInt).getOrElse(4),
          refineWith = opts.get("refine_with").map(spark.read.parquet(_)),
          refineFactor = opts.get("refine_factor").map(_.toInt).getOrElse(4))
        out.write.mode("overwrite").parquet(req("output"))
        spark.read.parquet(req("output"))
      case "bpe-train" =>
        // X105 tokenizer lifecycle, offline half: learn --n_merges
        // merges over --input's text column, persist merges +
        // segmented vocabulary under --store_dir in one atomic swap.
        // Returns the merge table.
        ops.Bpe.trainToStore(
          spark, req("input"), req("store_dir"),
          textCol = opts.getOrElse("text_column", "text"),
          nMerges = opts.get("n_merges").map(_.toInt).getOrElse(32))
      case "bpe-encode" =>
        // Online half: segment --input with the persisted tokenizer
        // (a pure projection over the merge-chain lambda) and write
        // --output with the subword array appended.
        val merges = ops.Bpe.loadMerges(spark, req("store_dir"))
        ops.Bpe.encode(
            spark.read.parquet(req("input")),
            opts.getOrElse("text_column", "text"), merges)
          .write.mode("overwrite").parquet(req("output"))
        spark.read.parquet(req("output"))
      case "privacy" =>
        // Privacy release gate (X88/X94/X95): audit --input's
        // quasi-identifier columns (--qid_columns, comma-separated)
        // against k-anonymity --k (default 5) and, when
        // --sensitive_column is given, l-diversity --l (default 2)
        // and t-closeness --t (default 0.25). One per-class report
        // lands at --output (left-joined on the QI columns), then the
        // job fails if any class is at risk under any enabled metric
        // — the same write-then-gate contract as `check`/`drift`.
        val in = spark.read.parquet(req("input"))
        val qid = req("qid_columns").split(",").map(_.trim).toSeq
        val k = opts.get("k").map(_.toLong).getOrElse(5L)
        val kCls = graft.ops.Curation.kAnonymityClasses(in, qid, k)
          .withColumnRenamed("at_risk", "k_risk")
        val report = opts.get("sensitive_column") match {
          case None => kCls
          case Some(sens) =>
            val l = opts.get("l").map(_.toLong).getOrElse(2L)
            val t = opts.get("t").map(_.toDouble).getOrElse(0.25)
            kCls
              .join(
                graft.ops.Curation.lDiversityClasses(in, qid, sens, l)
                  .withColumnRenamed("at_risk", "l_risk").drop("n"),
                qid)
              .join(
                graft.ops.Curation.tClosenessClasses(in, qid, sens, t)
                  .withColumnRenamed("at_risk", "t_risk").drop("n"),
                qid)
        }
        report.coalesce(1).write.mode("overwrite").parquet(req("output"))
        val persisted = spark.read.parquet(req("output"))
        val riskCols = persisted.columns.filter(_.endsWith("_risk"))
        val atRisk = persisted
          .filter(riskCols.map(col).reduce(_ || _))
          .count()
        if (atRisk > 0 && !opts.get("fail_on_violation").contains("false"))
          sys.error(s"privacy gate: $atRisk quasi-identifier classes at risk " +
            s"(see ${req("output")})")
        persisted
      case "compact-files" =>
        // Small-files maintenance (X63 closure, see
        // Layout.compactFiles): bin-pack --input's part files in curve
        // order to --target_bytes and swap the rewrite in atomically.
        // A partitionBy table root (subdirectories present) routes to
        // the per-leaf walk — the layout `--pipeline build-corpus`
        // itself publishes. `--zorder_cols a,b [--zorder_bits N]`
        // switches bin ordering from file names to measured per-file
        // key stats (compactionBinsByKey) — REQUIRED for appended-to
        // directories, where name order is not curve order. Prints the
        // report(s); returns the compacted data.
        val input = req("input")
        val target = req("target_bytes").toLong
        val zCols = opts.get("zorder_cols")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        val zBits = opts.get("zorder_bits").map(_.toInt).getOrElse(12)
        // A FLAT input crash-stranded wholly under `.compact_old_<name>`
        // doesn't exist yet — restore it BEFORE probing, or the listing
        // below throws where compactFiles' own pre-pass would have
        // recovered (the partitioned-table analogue of ADVICE r19).
        ops.Layout.recover(spark, input)
        val inP = new org.apache.hadoop.fs.Path(input)
        val inFs = inP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // A crash-stranded leaf (`.compact_old_*`/`.compact_next_*`)
        // may be the ONLY child — still a partitioned table, and only
        // compactPartitions' recovery pre-pass can restore it (ADVICE
        // r19: routing it to compactFiles left it unrecoverable).
        val partitioned = inFs.listStatus(inP).exists(s =>
          s.isDirectory && (!s.getPath.getName.startsWith(".") ||
            s.getPath.getName.startsWith(".compact_")))
        if (partitioned)
          ops.Layout.compactPartitions(spark, input, target, zCols, zBits)
            .foreach { case (rel, r) => println(s"COMPACTION $rel $r") }
        else if (zCols.nonEmpty)
          println(s"COMPACTION ${ops.Layout.compactFilesByKey(spark, input, target, zCols, zBits)}")
        else
          println(s"COMPACTION ${ops.Layout.compactFiles(spark, input, target)}")
        spark.read.parquet(input)
      case "build-corpus" =>
        // The full training-corpus DAG (see CorpusBuild): dedup →
        // quality → decontaminate → mix → pack → split → curriculum
        // over --input's documents, published under --output
        // partitioned by split. --mix/--splits parse as
        // "name:weight,name:weight"; every stage knob has the
        // oracle-checked default.
        def weighted(s: String): Seq[(String, Double)] =
          s.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { w =>
            val Array(name, wt) = w.split(":", 2)
            name.trim -> wt.trim.toDouble
          }
        val base = CorpusBuild.Config(input = req("input"), output = req("output"))
        CorpusBuild.run(spark, base.copy(
          benchCut = opts.get("bench_cut").map(_.toLong).getOrElse(base.benchCut),
          k = opts.get("minhash_k").map(_.toInt).getOrElse(base.k),
          bands = opts.get("bands").map(_.toInt).getOrElse(base.bands),
          shingleN = opts.get("shingle_n").map(_.toInt).getOrElse(base.shingleN),
          threshold = opts.get("threshold").map(_.toDouble).getOrElse(base.threshold),
          maxBucketSize = opts.get("max_bucket_size").map(_.toInt)
            .getOrElse(base.maxBucketSize),
          mix = opts.get("mix").map(weighted).getOrElse(base.mix),
          tokenBudget = opts.get("token_budget").map(_.toLong).getOrElse(base.tokenBudget),
          mixSeed = opts.get("mix_seed").map(_.toLong).getOrElse(base.mixSeed),
          packTokens = opts.get("pack_tokens").map(_.toLong).getOrElse(base.packTokens),
          splits = opts.get("splits").map(weighted).getOrElse(base.splits),
          splitSeed = opts.get("split_seed").map(_.toLong).getOrElse(base.splitSeed),
          phases = opts.get("phases").map(_.toInt).getOrElse(base.phases)))
      case "run-all" =>
        // The reference's 13-job medallion DAG (see RunAll): NDJSON
        // per entity under --input_dir, lake written under --lake_dir;
        // the result is the tip OBT, whichever job committed last.
        val jobs = RunAll.run(spark, req("input_dir"), req("lake_dir"),
          buckets = opts.get("buckets").map(_.toInt).getOrElse(8))
        jobs.foreach { case (name, out) => println(s"JOB $name -> $out") }
        spark.read.parquet(s"${req("lake_dir")}/silver/tip_obt")
      case other => sys.error(s"unknown pipeline: $other")
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    // Same steady-state JVM confs as Bench/Verify (r22): a CLI
    // pipeline run is a long-lived driver over the same plan library,
    // so it gets the same codegen-cache sizing and periodic GC.
    val spark = SessionDefaults.steadyState(SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
        .appName(s"graft-${opts.getOrElse("pipeline", "?")}")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
        .config("spark.sql.session.timeZone", "UTC"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val result = run(spark, opts)
    // The reference prints schema + sample before the write
    // (extract.py:32-33 etc.); we print after, same debugging intent.
    result.printSchema()
    // Count what's ON DISK when the pipeline has a single --output;
    // run-all's result is already the final OBT read back from disk.
    println(s"ROWS=" + opts.get("output")
      .map(o => spark.read.parquet(o).count())
      .getOrElse(result.count()))
    spark.stop()
  }
}
