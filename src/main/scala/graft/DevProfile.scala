package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev-only query profiler (optimization guide §1: measure first).
  *
  * For each named query, runs `iters` timed executions (same
  * `.count()` action as Bench) and splits the cost into:
  *   - build   : Scala-side DataFrame construction (driver only)
  *   - plan    : analysis + optimization + physical planning of the
  *               built frame (forced via `executedPlan`)
  *   - exec    : the counted action, per iteration
  * plus, from a SparkListener, per-execution job/stage/task counts,
  * summed executor run/CPU time, and shuffle bytes — enough to tell
  * scheduling-bound queries from compute-bound ones without the UI.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.DevProfile q_a q_b"
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_PROFILE_ITERS (default 3).
  */
object DevProfile {

  final class Acc extends SparkListener {
    val lock = new Object
    var jobs = 0
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuMs = 0L
    var shufReadB = 0L
    var shufWriteB = 0L
    var inputB = 0L
    val stageRows = mutable.ArrayBuffer[(String, Int, Long, Long, Long)]()
    override def onJobStart(j: SparkListenerJobStart): Unit =
      lock.synchronized { jobs += 1 }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        stages += 1
        val info = sc.stageInfo
        val m = info.taskMetrics
        tasks += info.numTasks
        runMs += m.executorRunTime
        cpuMs += m.executorCpuTime / 1000000L
        shufReadB += m.shuffleReadMetrics.totalBytesRead
        shufWriteB += m.shuffleWriteMetrics.bytesWritten
        inputB += m.inputMetrics.bytesRead
        stageRows += ((info.name.takeWhile(_ != '\n').take(60), info.numTasks,
          m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten))
      }
    def reset(): Unit = lock.synchronized {
      jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuMs = 0
      shufReadB = 0; shufWriteB = 0; inputB = 0; stageRows.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("SPARK_GRAFT_PROFILE_ITERS", "3").toInt
    val names =
      if (args.toSeq == Seq("all")) SparkEntry.queries.keys.toSeq
      else if (args.nonEmpty) args.toSeq
      else Seq("q_pipeline_corpus", "q_pipeline_curation_best",
        "q_pipeline_curation", "q_pagerank", "q_pca_whiten", "q_bpe_encode")
    val spark = SessionDefaults.steadyState(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // A/B knobs for size-based AQE partition coalescing (guide §2.2):
      // parallelismFirst=false lets AQE coalesce post-shuffle partitions
      // to advisory byte size instead of pinning to defaultParallelism.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_AQE_ADVISORY_SIZE", "64MB")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)

    // same warmup as Bench so the first profiled query is not charged
    // for JVM/parquet-footer init
    Seq("lineitem", "orders", "part", "supplier", "documents", "embeddings")
      .foreach(t => scala.util.Try(Tables.load(spark, sfDir, t).count()))
    scala.util.Try(Tables.events(spark, sfDir).count())

    def ms(n: Long): Double = math.rint(n / 1e6 * 10) / 10

    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      println(s"\n===== $n =====")
      val allExec = mutable.ArrayBuffer[Double]()
      for (i <- 1 to iters) {
        acc.reset()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        val buildJobs = acc.jobs // ops may run eager sub-jobs while building
        df.queryExecution.executedPlan // force analysis/optimize/plan
        val t2 = System.nanoTime()
        spark.sparkContext.setJobDescription(s"profile:$n#$i")
        df.count()
        spark.sparkContext.setJobDescription(null)
        val t3 = System.nanoTime()
        val cgCount = org.apache.spark.metrics.source.CodegenMetrics
          .METRIC_COMPILATION_TIME.getCount
        print(s"buildJobs=$buildJobs cgCum=$cgCount ")
        // listener events are async; give the bus a moment to drain
        Thread.sleep(120)
        val exec = ms(t3 - t2)
        allExec += exec
        println(f"iter$i%d build=${ms(t1 - t0)}%.1f plan=${ms(t2 - t1)}%.1f " +
          f"exec=$exec%.1f ms  jobs=${acc.jobs}%d stages=${acc.stages}%d " +
          f"tasks=${acc.tasks}%d execRun=${acc.runMs}%d ms cpu=${acc.cpuMs}%d ms " +
          f"shufR=${acc.shufReadB / 1024}%d KiB shufW=${acc.shufWriteB / 1024}%d KiB " +
          f"input=${acc.inputB / 1024}%d KiB")
        if (i == iters) {
          val top = acc.lock.synchronized {
            acc.stageRows.sortBy(-_._3).take(12).toVector
          }
          top.foreach { case (nm, nt, rt, sr, sw) =>
            println(f"    stage run=$rt%5d ms tasks=$nt%3d shufR=${sr / 1024}%6d KiB shufW=${sw / 1024}%6d KiB  $nm%s")
          }
        }
      }
      println(f"$n min-exec=${allExec.min}%.1f ms")
      if (sys.env.getOrElse("SPARK_GRAFT_PROFILE_UNPERSIST", "1") == "1")
        CachedFrames.unpersistAll()
    }
    spark.stop()
  }
}
