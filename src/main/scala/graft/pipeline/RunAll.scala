package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.{CancellationException, CompletableFuture, ConcurrentHashMap,
  Executors, ThreadPoolExecutor, TimeUnit}
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The reference's full 13-job medallion DAG
  * (`/root/reference/run-all-pipelines.sh:3-239`) as one typed,
  * in-session orchestrator: 5 extracts (raw NDJSON → bronze), 5
  * cleans (bronze → typed silver; the dated facts partitioned by
  * `date_year`), 3 enriches (silver fact ⋈ dims → OBT).
  *
  * The reference runs each job as its own `spark-submit`; on a
  * cluster that is the scheduler's concern, and every per-job conf it
  * repeats 13 times (shuffle partitions, executor sizing) is session
  * state here.
  *
  * Scheduling: each job is submitted when its inputs have committed.
  * The five extract → clean chains start at once; `enrich/<fact>`
  * starts when the cleans of its fact and its dimensions have
  * committed. Jobs run on a private pool of five threads (one per
  * chain, the DAG's width), each tagging its Spark jobs with the job
  * name as the job description. A single job is 3–4 small Spark jobs,
  * so overlapping them is what keeps the cores busy.
  *
  * Failure: after any job fails, no job that has not started is
  * launched, and jobs in flight run to their commit. The error thrown
  * names the earliest failed job in the reference's order
  * (`extract/user` … `enrich/tip`), with the other failures attached
  * as suppressed, so attribution does not depend on timing.
  *
  * Layout mirrors the reference's lake namespacing with paths:
  * `lake.{bronze,silver}.yelp.<entity>` →
  * `<lakeDir>/{bronze,silver}/<entity>`, OBTs at
  * `<lakeDir>/silver/<entity>_obt`.
  */
object RunAll {

  private val entities = Seq("user", "business", "review", "checkin", "tip")
  private val datePartitioned = Set("review", "checkin", "tip")
  /** Facts bucket by the join key their OBT uses; `user` by itself. */
  private def bucketColumn(e: String): String =
    if (e == "user") "user_id" else "business_id"
  private val enrichDims = Map(
    "review" -> Seq("business", "user"),
    "checkin" -> Seq("business"),
    "tip" -> Seq("business", "user"))

  private final case class Job(name: String, after: Seq[String], body: () => String)

  /** Run the DAG; returns (jobName, outputPath) in commit order. */
  def run(
      spark: SparkSession,
      inputDir: String,
      lakeDir: String,
      buckets: Int = 8): Seq[(String, String)] = {
    val extracts = entities.map { e =>
      Job(s"extract/$e", Nil, () => {
        val out = s"$lakeDir/bronze/$e"
        Pipelines.extract(spark, PipelineConfig(
          entityType = e,
          input = s"$inputDir/$e.ndjson",
          output = out,
          bucketColumn = Some(bucketColumn(e)),
          buckets = Some(buckets)))
        out
      })
    }
    val cleans = entities.map { e =>
      Job(s"clean/$e", Seq(s"extract/$e"), () => {
        val out = s"$lakeDir/silver/$e"
        Pipelines.clean(spark, PipelineConfig(
          entityType = e,
          input = s"$lakeDir/bronze/$e",
          output = out,
          partitionColumn = if (datePartitioned(e)) Some("date_year") else None,
          bucketColumn = Some(bucketColumn(e)),
          buckets = Some(buckets)))
        out
      })
    }
    val enriches = Seq("review", "checkin", "tip").map { e =>
      Job(s"enrich/$e", (e +: enrichDims(e)).map(d => s"clean/$d"), () => {
        val out = s"$lakeDir/silver/${e}_obt"
        Pipelines.enrich(spark, PipelineConfig(
          entityType = e,
          input = s"$lakeDir/silver/$e",
          output = out,
          partitionColumn = Some("date_year"),
          bucketColumn = Some(bucketColumn(e)),
          buckets = Some(buckets)),
          enrichDims(e).map(d => d -> s"$lakeDir/silver/$d"))
        out
      })
    }
    // commit order is the order of the _SUCCESS markers the writes left
    schedule(spark, extracts ++ cleans ++ enriches)
      .sortBy { case (_, out) => commitNanos(spark, out) }
  }

  /** Run `jobs` (listed in dependency order) as their inputs commit;
    * returns (name, output) in the order given, or throws as the
    * scaladoc above says.
    */
  private def schedule(spark: SparkSession, jobs: Seq[Job]): Seq[(String, String)] = {
    val pool = Executors.newFixedThreadPool(entities.size, (r: Runnable) => {
      val t = new Thread(r, "run-all")
      t.setDaemon(true)
      t
    })
    // start the threads here so they inherit this thread's Spark local
    // properties, not those of whichever job thread would spawn them
    pool.asInstanceOf[ThreadPoolExecutor].prestartAllCoreThreads()
    val errors = new ConcurrentHashMap[String, Throwable]()
    try {
      val done = jobs.foldLeft(Map.empty[String, CompletableFuture[String]]) { (done, j) =>
        val ready = CompletableFuture.allOf(j.after.map(done): _*)
        done + (j.name -> ready.thenApplyAsync[String](_ => {
          if (!errors.isEmpty) throw new CancellationException(s"${j.name} not started")
          val sc = spark.sparkContext
          sc.setJobDescription(j.name)
          try j.body()
          catch { case e: Throwable =>
            errors.put(j.name, e)
            throw e
          } finally sc.setJobDescription(null)
        }, pool))
      }
      // wait for every job, failed or not, before reporting
      CompletableFuture.allOf(done.values.toSeq: _*).exceptionally(_ => null).join()
      jobs.filter(j => errors.containsKey(j.name)) match {
        case Seq() => jobs.map(j => j.name -> done(j.name).join())
        case first +: rest =>
          val err = errors.get(first.name)
          val thrown = new RuntimeException(
            s"run-all job '${first.name}' failed: ${err.getMessage}", err)
          rest.foreach(j => thrown.addSuppressed(errors.get(j.name)))
          throw thrown
      }
    } finally pool.shutdown()
  }

  /** When `out`'s `_SUCCESS` marker was written, at the file system's
    * full timestamp precision on a local lake.
    */
  private def commitNanos(spark: SparkSession, out: String): Long = {
    val marker = new Path(out, "_SUCCESS")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case local: LocalFileSystem =>
        Files.getLastModifiedTime(local.pathToFile(marker).toPath)
          .to(TimeUnit.NANOSECONDS)
      case fs => fs.getFileStatus(marker).getModificationTime * 1000000L
    }
  }
}
