package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * `getOrCreate` returns the same instance across suites, which keeps
  * the full `sbt test` run to a single Spark startup). It is built
  * through [[SessionDefaults]], so the tests run on the entry points'
  * file system and codegen-cache settings.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SessionDefaults.steadyState(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Run `body` with `kv` set on the shared session, then restore. */
  protected def withConf[T](kv: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Run `body` under each shuffle layout a globally ordered operator
    * must not depend on: 1, 7 and 2×cpus shuffle partitions, each with
    * AQE on, on without partition coalescing, and off. AQE coalesces
    * small test shuffles to one partition; the middle mode keeps AQE
    * but not the coalescing, so cross-partition offsets are exercised.
    * `body` gets a label naming the layout.
    */
  protected def forEachShuffleLayout(body: String => Unit): Unit = {
    val aqeModes = Seq(
      "on" -> Seq("spark.sql.adaptive.enabled" -> "true"),
      "on, uncoalesced" -> Seq("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false"),
      "off" -> Seq("spark.sql.adaptive.enabled" -> "false"))
    val cpus = Runtime.getRuntime.availableProcessors
    for (parts <- Seq(1, 7, 2 * cpus); (aqe, aqeConf) <- aqeModes)
      withConf(("spark.sql.shuffle.partitions" -> parts.toString) +: aqeConf: _*) {
        body(s"partitions=$parts aqe=$aqe")
      }
  }
}
