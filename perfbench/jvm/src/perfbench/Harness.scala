package perfbench

import graft.{CachedFrames, SessionDefaults, SparkEntry, Tables}
import graft.pipeline.RunAll
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** JVM side of the benchmark. `run.py` launches it once per process
  * with `mode=<queries|cold|setup|medallion>` and `key=value` options,
  * and reads the JSON report it writes to `out=`.
  *
  *  - `queries`: set up, run the named queries once cold and once to
  *    warm up, then repeat warm passes until `seconds` have gone by and
  *    at least three have run, then write every result as parquet
  *    under `results=` for the oracle check. With
  *    `trace=1` the cold pass and every other warm pass are traced.
  *  - `cold`: set up, run the named queries once cold, and exit.
  *  - `setup`: set up (session plus inputs touched) and exit.
  *  - `medallion`: `graft.pipeline.RunAll.run`, traced job by job.
  */
object Harness {

  type Opts = Map[String, String]

  def main(args: Array[String]): Unit = {
    val entered = Clock.now()
    val o: Opts = args.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    val report = o("mode") match {
      case "queries" => queries(o, entered)
      case "cold" => cold(o, entered)
      case "setup" => setup(o, entered)
      case "medallion" => medallion(o, entered)
      case m => sys.error(s"unknown mode $m")
    }
    Files.writeString(Paths.get(o("out")), Json.write(report))
  }

  private def cpus(o: Opts): String = o.getOrElse("cpus", "4")

  /** The session `graft.Verify`/`graft.Bench` build for the query suite. */
  def querySession(o: Opts): SparkSession = {
    val spark = SessionDefaults.steadyState(SparkSession.builder()
        .master(s"local[${cpus(o)}]")
        .config("spark.sql.shuffle.partitions", cpus(o))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session `graft.Main` builds for a CLI pipeline, with its
    * shuffle-partition default, on the benchmark's local cores.
    */
  def cliSession(o: Opts): SparkSession = {
    val spark = SessionDefaults.steadyState(SparkSession.builder()
        .master(s"local[${cpus(o)}]")
        .appName("graft-run-all")
        .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
        .config("spark.sql.session.timeZone", "UTC"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")

  /** Resolve every harness table, as each query's first load would. */
  def touchTables(spark: SparkSession, sf: String): Unit = {
    tableNames.foreach(t => Tables.load(spark, sf, t))
    Tables.events(spark, sf)
  }

  val entities: Seq[String] = Seq("user", "business", "review", "checkin", "tip")

  def touchNdjson(spark: SparkSession, input: String): Unit =
    entities.foreach(e => spark.read.text(s"$input/$e.ndjson"))

  /** Launch-to-ready timings: JVM start to `main`, session build, and
    * inputs touched; `setup_s` spans all three.
    */
  final case class Setup(spark: SparkSession, times: Map[String, Double])

  private def setUp(o: Opts, entered: Double)(session: => SparkSession)(touch: SparkSession => Unit): Setup = {
    val launch = o("launch").toDouble
    val spark = session
    val sessionReady = Clock.now()
    touch(spark)
    val ready = Clock.now()
    Setup(spark, Map(
      "launch" -> launch, "entered" -> entered, "session_ready" -> sessionReady, "ready" -> ready,
      "jvm_s" -> (entered - launch), "spark_s" -> (sessionReady - entered),
      "tables_s" -> (ready - sessionReady), "setup_s" -> (ready - launch)))
  }

  def setup(o: Opts, entered: Double): Map[String, Any] = {
    val s = if (o.contains("sf")) setUp(o, entered)(querySession(o))(touchTables(_, o("sf")))
            else setUp(o, entered)(cliSession(o))(touchNdjson(_, o("input")))
    s.spark.stop()
    Map("setup" -> s.times)
  }

  private def heapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0

  private def codegen: (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  private def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"

  /** Which query module each query name comes from, by each module's
    * public `queries` map; the rest are `SparkEntry`'s own.
    */
  def moduleOf: Map[String, String] = {
    val modules = Seq(
      "ParityQueries" -> graft.queries.ParityQueries.queries,
      "LlmQueries" -> graft.queries.LlmQueries.queries,
      "CurationQueries" -> graft.queries.CurationQueries.queries,
      "AnalyticsQueries" -> graft.queries.AnalyticsQueries.queries,
      "PipelineQueries" -> graft.queries.PipelineQueries.queries,
      "MiningQueries" -> graft.queries.MiningQueries.queries)
    val named = modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
    SparkEntry.queries.keys.map(q => q -> named.getOrElse(q, "SparkEntry")).toMap
  }

  /** The suite's query calls in one session. An op is one call as a
    * caller makes it: build the frame, materialize it; a pass runs every
    * query once and then releases the pass's shared caches.
    */
  final class Suite(spark: SparkSession, sf: String, names: Seq[String], tracer: Tracer) {
    private val all = SparkEntry.queries
    private val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val errors = mutable.LinkedHashMap.empty[String, String]

    private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    def op(name: String, traced: Boolean): Map[String, Any] = {
      val fn = all(name)
      val t0 = Clock.now()
      val err = try {
        if (traced) tracer.span("op", name) {
          val df = tracer.span("queries", name)(fn(spark, sf))
          tracer.span("plan", name)(df.queryExecution.executedPlan)
          tracer.span("exec", name)(noop(df))
        } else noop(fn(spark, sf))
        None
      } catch { case e: Throwable =>
        val msg = errorText(e)
        errors.getOrElseUpdate(name, msg)
        Some(msg)
      }
      Map("name" -> name, "seconds" -> (Clock.now() - t0), "error" -> err)
    }

    def pass(traced: Boolean): Map[String, Any] = {
      val t0 = Clock.now()
      val ops = names.map(op(_, traced))
      val cachedMb =
        if (traced) spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
        else 0.0
      if (traced) tracer.span("cache", "unpersistAll")(CachedFrames.unpersistAll())
      else CachedFrames.unpersistAll()
      Map("start" -> t0, "seconds" -> (Clock.now() - t0), "ops" -> ops, "cached_mb" -> cachedMb)
    }
  }

  /** Set up, run the cold pass untraced, and exit: a second sample of
    * `setup_s` and `cold_s` from a fresh JVM.
    */
  def cold(o: Opts, entered: Double): Map[String, Any] = {
    val st = setUp(o, entered)(querySession(o))(touchTables(_, o("sf")))
    val suite = new Suite(st.spark, o("sf"), o("queries").split(",").toSeq,
      new Tracer(o.getOrElse("run", "run"), st.spark.sparkContext))
    val cold = suite.pass(traced = false)
    st.spark.stop()
    Map("setup" -> st.times, "cold" -> cold, "errors" -> suite.errors)
  }

  def queries(o: Opts, entered: Double): Map[String, Any] = {
    val sf = o("sf")
    val names = o("queries").split(",").toSeq
    val traceOn = o.getOrElse("trace", "0") == "1"

    val st = setUp(o, entered)(querySession(o))(touchTables(_, sf))
    val spark = st.spark
    val sc = spark.sparkContext
    val tracer = new Tracer(o.getOrElse("run", "run"), sc)
    val suite = new Suite(spark, sf, names, tracer)
    import suite.pass
    val listener = new ExecListener
    if (traceOn) {
      tracer.record("session", "jvm", st.times("launch"), st.times("entered"))
      tracer.record("session", "spark", st.times("entered"), st.times("session_ready"))
      tracer.record("tables", "touch", st.times("session_ready"), st.times("ready"))
      sc.addSparkListener(listener)
    }

    val cg0 = codegen
    val cold = pass(traceOn)
    val cg1 = codegen
    if (traceOn) sc.removeSparkListener(listener)

    // The pass after the cold one is still far slower while the JIT
    // compiles the hot paths; it is run, not reported. Then warm passes
    // until the measuring time is used up. A traced run
    // alternates untraced and traced passes, so the difference of their
    // medians is the tracing overhead under the same conditions.
    val warmup = Seq(pass(traced = false))
    val seconds = o("seconds").toDouble
    val minPasses = if (traceOn) 4 else 3
    val warm = mutable.ArrayBuffer.empty[Map[String, Any]]
    val traced = mutable.ArrayBuffer.empty[Map[String, Any]]
    var tracedExec = ExecCounts()
    val loopStart = Clock.now()
    var n = 0
    while (n < minPasses || (Clock.now() - loopStart < seconds && n < 200)) {
      if (traceOn && n % 2 == 1) {
        sc.addSparkListener(listener)
        val before = listener.snapshot(sc)
        traced += pass(traced = true)
        tracedExec = tracedExec + (listener.snapshot(sc) - before)
        sc.removeSparkListener(listener)
      } else warm += pass(traced = false)
      n += 1
    }

    // Results for the oracle check, outside every timed region.
    val results = o("results")
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sf).coalesce(1).write.mode("overwrite").parquet(s"$results/$name")
      catch { case e: Throwable => suite.errors.getOrElseUpdate(name, errorText(e)) }
    }
    Files.writeString(Paths.get(s"$results/oracle_sql.json"),
      Json.write(SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))
    CachedFrames.unpersistAll()

    val layers: Map[String, Any] = if (!traceOn) Map.empty else {
      // Untraced passes leave no spans, so everything from the first
      // traced warm pass on belongs to the traced warm passes.
      val tp = traced.size.toDouble
      val from = traced.head("start").asInstanceOf[Double]
      val self = tracer.selfSeconds(from)
      def layerSeconds(layer: String) = self.getOrElse(layer, 0.0) / tp
      val modules = moduleOf
      val byModule = tracer.spans.filter(s => s.start >= from && s.layer == "queries")
        .groupBy(s => modules(s.name))
        .map { case (m, ss) => s"queries.$m.s" -> ss.map(_.seconds).sum / tp }
      Map(
        "queries.build_s" -> layerSeconds("queries"),
        "queries.build_jobs" -> tracedExec.jobs.getOrElse("queries", 0) / tp,
        "plan.s" -> layerSeconds("plan"),
        "cache.unpersist_s" -> layerSeconds("cache"),
        "cache.persisted_mb" -> traced.map(_("cached_mb").asInstanceOf[Double]).sum / tp,
        "exec.codegen_compiles" -> (cg1._1 - cg0._1).toDouble,
        "exec.codegen_compile_s" -> (cg1._2 - cg0._2) / 1e9
      ) ++ byModule ++ execMetrics(tracedExec, layerSeconds("exec"), tp, cpus(o).toInt)
    }

    spark.stop()
    Map("setup" -> st.times, "heap_mb" -> heapMb, "cold" -> cold, "warmup" -> warmup, "warm" -> warm,
      "traced" -> traced, "errors" -> suite.errors, "layers" -> layers,
      "spans" -> (if (traceOn) tracer.toJson else Nil))
  }

  /** Executor metrics of a region, per repetition (`reps`), in the
    * units the benchmark reports.
    */
  def execMetrics(c: ExecCounts, execSeconds: Double, reps: Double, cores: Int): Map[String, Double] = {
    val mb = 1048576.0 * reps
    Map(
      "exec.s" -> execSeconds,
      "exec.jobs" -> c.totalJobs / reps,
      "exec.stages" -> c.stages / reps,
      "exec.tasks" -> c.tasks / reps,
      "exec.failed_tasks" -> c.failedTasks / reps,
      "exec.task_run_s" -> c.runMs / 1e3 / reps,
      "exec.task_cpu_s" -> c.cpuNs / 1e9 / reps,
      "exec.gc_s" -> c.gcMs / 1e3 / reps,
      "exec.core_busy" -> (if (execSeconds > 0) c.runMs / 1e3 / reps / (cores * execSeconds) else 0.0),
      "exec.shuffle_read_mb" -> c.shuffleRead / mb,
      "exec.shuffle_write_mb" -> c.shuffleWrite / mb,
      "exec.spill_mb" -> c.spill / mb,
      "exec.input_mb" -> c.input / mb,
      "exec.task_skew" -> c.worstSkew)
  }

  /** `graft.pipeline.RunAll.run` in one span. Each of its jobs commits
    * its table with a `_SUCCESS` marker, in order, so job i ran from
    * the previous commit (or the start of the run) to its own; those
    * intervals become the jobs' spans, charged to `pipeline.<kind>`.
    */
  def medallion(o: Opts, entered: Double): Map[String, Any] = {
    val input = o("input")
    val lake = o("lake")
    val buckets = o.getOrElse("buckets", "8").toInt
    val st = setUp(o, entered)(cliSession(o))(touchNdjson(_, input))
    val spark = st.spark
    val sc = spark.sparkContext
    val tracer = new Tracer(o.getOrElse("run", "run"), sc)
    tracer.record("session", "jvm", st.times("launch"), st.times("entered"))
    tracer.record("session", "spark", st.times("entered"), st.times("session_ready"))
    tracer.record("tables", "touch", st.times("session_ready"), st.times("ready"))
    val listener = new ExecListener
    sc.addSparkListener(listener)

    val cg0 = codegen
    val ex0 = listener.snapshot(sc)
    val t0 = Clock.now()
    val jobs = tracer.span("pipeline", "RunAll.run")(RunAll.run(spark, input, lake, buckets))
    val wall = Clock.now() - t0
    val cg1 = codegen
    val ex = listener.snapshot(sc) - ex0

    val runSpan = tracer.spans.find(_.layer == "pipeline").get
    val commits = jobs.map { case (_, out) =>
      Files.getLastModifiedTime(Paths.get(out, "_SUCCESS")).to(TimeUnit.MICROSECONDS) / 1e6
    }
    jobs.zip(runSpan.start +: commits).zip(commits).foreach { case (((name, _), start), end) =>
      tracer.record(s"pipeline.${name.takeWhile(_ != '/')}", name, start, end, parent = runSpan.id)
    }
    val self = tracer.selfSeconds(t0)
    val layers = Map(
      "pipeline.extract_s" -> self.getOrElse("pipeline.extract", 0.0),
      "pipeline.clean_s" -> self.getOrElse("pipeline.clean", 0.0),
      "pipeline.enrich_s" -> self.getOrElse("pipeline.enrich", 0.0),
      "exec.codegen_compiles" -> (cg1._1 - cg0._1).toDouble,
      "exec.codegen_compile_s" -> (cg1._2 - cg0._2) / 1e9) ++
      execMetrics(ex, wall, 1.0, cpus(o).toInt)
    spark.stop()
    Map("setup" -> st.times, "heap_mb" -> heapMb, "wall_s" -> wall, "jobs" -> jobs.map(_._1),
      "layers" -> layers, "spans" -> tracer.toJson)
  }
}
