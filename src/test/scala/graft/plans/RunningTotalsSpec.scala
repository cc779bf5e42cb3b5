package graft.plans

import graft.{CachedFrames, SparkSpec}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[RunningTotals]] must equal the one-task `Window` form row for row,
  * whatever the shuffle-partition count, with AQE on or off, and
  * whether or not cached frames are dropped between building a frame
  * and executing it.
  */
class RunningTotalsSpec extends SparkSpec {
  import spark.implicits._

  /** `n` rows: unique `id`, tie-heavy nullable keys `k1`/`k2`,
    * nullable long value `v` and int value `w`.
    */
  private def frame(n: Int, seed: Long): DataFrame = {
    val r = new scala.util.Random(seed)
    def maybe[T](x: => T): Option[T] = if (r.nextInt(10) == 0) None else Some(x)
    (0 until n).map { i =>
      (i.toLong, maybe(r.nextInt(20)), maybe(("abc")(r.nextInt(3)).toString),
        maybe(r.nextLong() % 1000000L), r.nextInt(50))
    }.toDF("id", "k1", "k2", "v", "w")
  }

  private case class Shape(order: Seq[Column], includeCurrent: Boolean)

  private val shapes = Seq(
    Shape(Seq(col("k1")), includeCurrent = true),
    Shape(Seq(col("k1").desc, col("k2")), includeCurrent = true),
    Shape(Seq(col("k2").desc_nulls_first, col("k1").asc_nulls_last, col("id")),
      includeCurrent = true),
    Shape(Seq(col("id")), includeCurrent = false),
    Shape(Seq(col("k1").desc, col("id").desc), includeCurrent = false))

  private val sums = Seq("cv" -> col("v"), "cw" -> (col("w") * 2))
  private val grands = Seq("tv" -> col("v"), "tw" -> col("w"))

  private def viaOperator(df: DataFrame, s: Shape): DataFrame =
    RunningTotals.withRunningTotals(df, s.order, sums, s.includeCurrent, grands)

  private def viaWindow(df: DataFrame, s: Shape): DataFrame = {
    val w0 = Window.orderBy(s.order: _*)
    val w = if (s.includeCurrent) w0 else w0.rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy()
    (sums.map { case (n, v) => n -> coalesce(sum(v.cast("long")).over(w), lit(0L)) } ++
      grands.map { case (n, v) => n -> coalesce(sum(v.cast("long")).over(all), lit(0L)) })
      .foldLeft(df) { case (acc, (n, c)) => acc.withColumn(n, c) }
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.select("id", "k1", "k2", "v", "w", "cv", "cw", "tv", "tw").collect()
      .sortBy(_.getLong(0)).toSeq

  test("equals the one-task window over 1, 7 and 2×cpus partitions, AQE on and off") {
    forEachShuffleLayout { layout =>
      for ((n, seed) <- Seq(0 -> 1L, 1 -> 2L, 37 -> 3L, 3000 -> 4L); s <- shapes) {
        val df = frame(n, seed)
        assert(rows(viaOperator(df, s)) == rows(viaWindow(df, s)),
          s"$layout n=$n order=${s.order} current=${s.includeCurrent}")
      }
    }
  }

  test("results do not depend on cached frames dropped between build and execution") {
    withConf("spark.sql.shuffle.partitions" -> "7", "spark.sql.adaptive.enabled" -> "false") {
      val base = CachedFrames.persistOnce(frame(2000, 5L))
      base.count()
      val s = shapes(1)
      val built = viaOperator(base, s)
      val expected = rows(viaWindow(frame(2000, 5L), s))
      CachedFrames.unpersistAll()
      assert(rows(built) == expected)
      assert(rows(built) == expected, "a second execution must agree with the first")
    }
  }

  test("plans one range exchange into the exec — no window, cache or join") {
    val plan = viaOperator(frame(100, 6L), shapes.head)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.matches("(?s).*\\(\\d+\\) RunningTotals\\b.*"), plan)
    assert(plan.contains("rangepartitioning"), plan)
    for (node <- Seq("Window", "InMemoryRelation", "Join"))
      assert(!plan.contains(node), s"unexpected $node:\n$plan")
  }

  test("prunes unused input columns below the node") {
    val df = frame(10, 7L)
    val out = RunningTotals.withRunningTotals(df, Seq(col("id")), Seq("cv" -> col("v")))
      .select("id", "cv")
    assert(out.queryExecution.optimizedPlan.collectFirst {
      case rt: RunningTotals => rt.child.output.map(_.name).toSet
    }.contains(Set("id", "v")))
  }

  test("rejects output names that shadow input columns") {
    val e = intercept[IllegalArgumentException] {
      RunningTotals.withRunningTotals(frame(3, 8L), Seq(col("id")), Seq("v" -> col("w")))
    }
    assert(e.getMessage.contains("rename: v"))
  }
}
