package graft.pipeline

import graft.{Main, SparkSpec}
import java.nio.file.Files

/** Drives the full 13-job medallion DAG through the CLI dispatch
  * over the checked-in NDJSON fixtures.
  */
class RunAllSpec extends SparkSpec {

  test("run-all executes the 13-job DAG over the fixtures") {
    val lake = Files.createTempDirectory("run-all-lake").toString
    val result = Main.run(spark, Main.parseArgs(Array(
      "--pipeline", "run-all",
      "--input_dir", "fixtures", "--lake_dir", lake)))

    // final job's OBT (tip ⋈ business,user) comes back non-empty with
    // the prefix-aliased dimension columns
    assert(result.count() > 0)
    assert(result.columns.exists(_.startsWith("business_")))
    assert(result.columns.exists(_.startsWith("user_")))

    // every layer of the lake landed
    for (e <- Seq("user", "business", "review", "checkin", "tip")) {
      assert(spark.read.parquet(s"$lake/bronze/$e").count() > 0, s"bronze/$e")
      assert(spark.read.parquet(s"$lake/silver/$e").count() > 0, s"silver/$e")
    }
    for (e <- Seq("review", "checkin", "tip")) {
      val obt = spark.read.parquet(s"$lake/silver/${e}_obt")
      assert(obt.count() > 0, s"silver/${e}_obt")
      // dated facts partition by date_year on disk
      assert(new java.io.File(s"$lake/silver/$e").listFiles()
        .exists(_.getName.startsWith("date_year=")), s"silver/$e partitioning")
    }

    // a failing job names itself; with every extract failing, that is
    // the first in the reference's order
    val err = intercept[RuntimeException] {
      RunAll.run(spark, "/nonexistent-input-dir", s"$lake/broken")
    }
    assert(err.getMessage.contains("extract/user"))
  }

  private def committed(table: String): Boolean =
    Files.exists(java.nio.file.Paths.get(table, "_SUCCESS"))

  private def commitNanos(table: String): Long =
    Files.getLastModifiedTime(java.nio.file.Paths.get(table, "_SUCCESS"))
      .to(java.util.concurrent.TimeUnit.NANOSECONDS)

  test("run-all returns its 13 jobs in commit order, each after its inputs") {
    val lake = Files.createTempDirectory("run-all-order").toString
    val jobs = RunAll.run(spark, "fixtures", lake)
    val names = jobs.map(_._1)
    assert(names.distinct.size == 13)
    assert(names.toSet == Set("extract", "clean").flatMap(s =>
      Seq("user", "business", "review", "checkin", "tip").map(e => s"$s/$e")) ++
      Seq("review", "checkin", "tip").map(e => s"enrich/$e"))
    val at = jobs.map { case (name, out) => name -> commitNanos(out) }
    assert(at.map(_._2) == at.map(_._2).sorted, at.mkString(", "))
    val when = at.toMap
    for ((fact, dims) <- Seq("review" -> Seq("business", "user"),
        "checkin" -> Seq("business"), "tip" -> Seq("business", "user"));
        dep <- fact +: dims) {
      assert(names.indexOf(s"clean/$dep") < names.indexOf(s"enrich/$fact"))
      assert(when(s"clean/$dep") <= when(s"enrich/$fact"), s"enrich/$fact before clean/$dep")
    }
    for (e <- Seq("user", "business", "review", "checkin", "tip"))
      assert(names.indexOf(s"extract/$e") < names.indexOf(s"clean/$e"))
  }

  test("a failed extract stops the DAG, names itself, and leaves only whole tables") {
    val input = Files.createTempDirectory("run-all-nobusiness")
    for (e <- Seq("user", "review", "checkin", "tip"))
      Files.copy(java.nio.file.Paths.get(s"fixtures/$e.ndjson"), input.resolve(s"$e.ndjson"))
    val lake = Files.createTempDirectory("run-all-nobusiness-lake").toString
    val err = intercept[RuntimeException] { RunAll.run(spark, input.toString, lake) }
    assert(err.getMessage.contains("extract/business"), err.getMessage)
    // every OBT joins business: none is written
    for (e <- Seq("review", "checkin", "tip"))
      assert(!new java.io.File(s"$lake/silver/${e}_obt").exists(), s"silver/${e}_obt")
    // jobs in flight at the failure ran to their commit: whatever the
    // user chain wrote is whole
    val users = spark.read.json("fixtures/user.ndjson").count()
    assert(committed(s"$lake/bronze/user"))
    for (layer <- Seq("bronze", "silver"); t = s"$lake/$layer/user"; if new java.io.File(t).exists) {
      assert(committed(t), t)
      assert(spark.read.parquet(t).count() == users, t)
    }
    for (layer <- Seq("bronze", "silver"); dir <- Option(new java.io.File(s"$lake/$layer").listFiles)
        .toSeq.flatten)
      assert(committed(dir.toString), s"$dir has no _SUCCESS")
  }

  test("run-all survives checkins whose dates all fail to parse") {
    // date-only checkin stamps miss the clean's "yyyy-MM-dd HH:mm:ss"
    // format, so every silver checkin row lands in the null date_year
    // partition; enrich must still read it back integer-typed
    val input = Files.createTempDirectory("run-all-dateonly")
    for (e <- Seq("user", "business", "review", "tip"))
      Files.copy(java.nio.file.Paths.get(s"fixtures/$e.ndjson"), input.resolve(s"$e.ndjson"))
    Files.writeString(input.resolve("checkin.ndjson"),
      """{"business_id":"b01","date":"2016-04-26, 2016-08-30"}
        |{"business_id":"b02","date":"2021-01-02"}
        |""".stripMargin)
    val lake = Files.createTempDirectory("run-all-dateonly-lake").toString
    RunAll.run(spark, input.toString, lake)
    assert(spark.read.parquet(s"$lake/silver/checkin_obt").count() == 3)
    assert(new java.io.File(s"$lake/silver/checkin_obt").list().toSeq
      .filter(_.startsWith("date_year=")) == Seq("date_year=__HIVE_DEFAULT_PARTITION__"))
  }

  test("enrich dispatch rejects unpaired dimension flags, incl. single-dim") {
    // "".split(",") is Array("") of length 1 — a forgotten flag used to
    // pair up with a lone real entry and silently drop the dimension
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, Map("pipeline" -> "enrich",
        "dimension_inputs" -> "/lake/silver/business"))
    }
    assert(e.getMessage.contains("must pair up"))
    // an empty CSV slot on one side shifts the lengths and fails loudly
    // instead of feeding "" to the parquet reader
    intercept[IllegalArgumentException] {
      Main.run(spark, Map("pipeline" -> "enrich",
        "dimension_entity_types" -> "business,user",
        "dimension_inputs" -> ",/lake/silver/user"))
    }
  }
}
