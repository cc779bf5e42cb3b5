package graft

import org.apache.spark.sql.SparkSession

/** Long-lived-driver steady-state session configuration, shared by
  * every entry point ([[Main]], [[Bench]], [[Verify]]), the benchmark
  * harness, the test session and `DevProfile`, so an embedder running
  * this 200-plan library gets the same JVM behavior the bench measures.
  *
  * The first two values are env-overridable and NOT local[32]-specific
  * — they size driver-JVM caches/cleanup by the size of the PLAN
  * LIBRARY, not the cluster:
  *
  *  - `spark.sql.codegen.cache.maxEntries` (default here 4096, Spark
  *    default 100): the suite generates far more than 100 distinct
  *    whole-stage-codegen classes; at 100 the Janino class cache
  *    (CodeGenerator.cache, keyed by generated source) thrashes and
  *    EVERY stage recompiles, with all local tasks blocked on the one
  *    Guava loader thread (measured: 32-task stages with zero I/O
  *    burning 30–950 s of executorRunTime at cpu ≈ run/6 — pure
  *    compile-lock wait; ~550 Janino compiles over just 9 profiled
  *    queries). Any long-lived driver running this library pays the
  *    identical recompile tax at the default. Static conf — must be
  *    set before the first session in the JVM.
  *  - `spark.cleaner.periodicGC.interval` (default here 1min, Spark
  *    default 30min): broadcast/shuffle state is only reclaimed when
  *    the ContextCleaner sees references die, and a 30-min timer
  *    never fires inside a multi-query run — state from early queries
  *    then crowds the unified memory pool for late ones (measured:
  *    late-pass heavy queries back at their isolated cost with the
  *    1-min timer).
  *  - `spark.hadoop.fs.file.impl` = [[graft.io.NioLocalFileSystem]]
  *    (fixed): without the native Hadoop library, the stock local file
  *    system forks a `chmod` process for every file, `.crc` sidecar and
  *    directory a write creates — 2,217 forks in one cold
  *    `--pipeline run-all`, each blocking a task thread. The NIO
  *    subclass sets the same modes in the JVM. Like every `spark.hadoop.*`
  *    key it is read when the SparkContext starts.
  */
object SessionDefaults {
  def steadyState(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.cleaner.periodicGC.interval",
        sys.env.getOrElse("SPARK_GRAFT_PERIODIC_GC", "1min"))
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)
}
