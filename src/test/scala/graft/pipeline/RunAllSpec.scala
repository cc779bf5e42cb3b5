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

    // a failing job names itself
    val err = intercept[RuntimeException] {
      RunAll.run(spark, "/nonexistent-input-dir", s"$lake/broken")
    }
    assert(err.getMessage.contains("extract/user"))
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
