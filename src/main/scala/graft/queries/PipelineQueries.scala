package graft.queries

import graft.pipeline.Pipelines
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end clean-pipeline queries over the checked-in Yelp-shaped
  * NDJSON fixtures (`fixtures/` dir, spec in FIXTURES.md §1) —
  * these exercise the reference's hardest path (JSON inference →
  * flatten → 6-regex repair → data-dependent typing → hours split;
  * `/root/reference/yelp_etl/pipeline/clean.py:59-130`) against a
  * DuckDB oracle that recomputes the expected values independently
  * from the same JSON.
  *
  * Output columns are scalar-projected (map lookups, array elements)
  * so the driver's sorted-column hash compare is type-exact.
  */
object PipelineQueries {

  val businessFixture = Fixtures.path("business.ndjson")
  val checkinFixture = Fixtures.path("checkin.ndjson")
  val reviewFixture = Fixtures.path("review.ndjson")
  val tipFixture = Fixtures.path("tip.ndjson")
  val userFixture = Fixtures.path("user.ndjson")

  def queries: Map[String, (SparkSession, String) => DataFrame] = scala.collection.immutable.ListMap(

    // S1 + P5 + F2/F5-F10: the full business clean branch.
    "q_clean_business" -> ((s, _) => {
      val cleaned = Pipelines.cleanTransform(s.read.json(businessFixture), "business")
      cleaned.select(
        col("business_id"),
        col("is_open"),
        size(col("categories")).as("n_categories"),
        element_at(col("categories"), 1).as("first_category"),
        col("attributes_wifi"),
        col("attributes_bikeparking"),
        element_at(col("attributes_ambience"), "romantic").as("ambience_romantic"),
        element_at(col("attributes_ambience"), "casual").as("ambience_casual"),
        col("attributes_goodformeal").isNull.as("goodformeal_null"),
        col("attributes_restaurantspricerange2").as("price_range"),
        col("hours_monday_start_hour"),
        col("hours_monday_end_hour"),
        col("hours_saturday_start_minute"))
        .orderBy("business_id")
    }),

    // S1 + F1/F3/F4 + F11-F14: the checkin branch with deterministic
    // surrogate ids and the date-feature bundle.
    "q_clean_checkin" -> ((s, _) => {
      val cleaned = Pipelines.cleanTransform(
        s.read.json(checkinFixture), "checkin", deterministicIds = true)
      cleaned.select(
        col("business_id"),
        col("checkin_id"),
        col("date_ts").cast("timestamp_ntz").as("date_ts"),
        col("date_date"),
        col("date_week_start_date"),
        col("date_week"),
        col("date_quarter"),
        col("date_dayofweek"),
        col("date_month"),
        col("date_year"))
        .orderBy("checkin_id")
    }),

    // The review clean branch (`clean.py:131-146`): date-feature
    // bundle over "yyyy-MM-dd" dates, source column dropped. Fixture
    // includes a NULL and a malformed date to pin the try_* NULL
    // semantics end-to-end.
    "q_clean_review" -> ((s, _) => {
      val cleaned = Pipelines.cleanTransform(s.read.json(reviewFixture), "review")
      cleaned.select(
        col("review_id"),
        col("business_id"),
        col("stars"),
        col("useful"),
        col("date_ts").cast("timestamp_ntz").as("date_ts"),
        col("date_date"),
        col("date_week_start_date"),
        col("date_week"),
        col("date_quarter"),
        col("date_dayofweek"),
        col("date_month"),
        col("date_year"))
        .orderBy("review_id")
    }),

    // The tip clean branch — same date-feature path as review, with
    // the tip schema (no surrogate key; (business_id, user_id) is
    // unique in the fixture and serves as the sort key).
    "q_clean_tip" -> ((s, _) => {
      val cleaned = Pipelines.cleanTransform(s.read.json(tipFixture), "tip")
      cleaned.select(
        col("user_id"),
        col("business_id"),
        col("compliment_count"),
        col("date_ts").cast("timestamp_ntz").as("date_ts"),
        col("date_date"),
        col("date_dayofweek"),
        col("date_month"),
        col("date_year"))
        .orderBy("business_id", "user_id")
    }),

    // The user clean branch (`clean.py:138-139`): the one entity whose
    // date features come from `yelping_since` (format "yyyy-MM-dd",
    // `clean.py:134`) instead of `date`. Fixture includes a malformed
    // date, an empty string, and a JSON null to pin try_to_timestamp's
    // NULL propagation through all 8 derived columns.
    "q_clean_user" -> ((s, _) => {
      val cleaned = Pipelines.cleanTransform(s.read.json(userFixture), "user")
      cleaned.select(
        col("user_id"),
        col("name"),
        col("review_count"),
        col("fans"),
        col("average_stars"),
        col("yelping_since_ts").cast("timestamp_ntz").as("yelping_since_ts"),
        col("yelping_since_date"),
        col("yelping_since_week_start_date"),
        col("yelping_since_week"),
        col("yelping_since_quarter"),
        col("yelping_since_dayofweek"),
        col("yelping_since_month"),
        col("yelping_since_year"))
        .orderBy("user_id")
    }))

  /** The 6-step repair chain (`clean.py:69-94`) as nested DuckDB SQL —
    * same order as [[graft.ops.StringRepair.repair]].
    */
  private def repairSql(e: String): String = {
    val s1 = s"regexp_replace($e, '^u''(.*)''$$', '\\1', 'g')"
    val s2 = s"regexp_replace($s1, 'u(''.*?'')', '\\1', 'g')"
    val s3 = s"regexp_replace($s2, '''none''', 'none', 'g')"
    val s4 = s"CASE WHEN lower($s3) = 'none' THEN NULL ELSE $s3 END"
    val s5 = s"regexp_replace($s4, '[Nn]one', 'null', 'g')"
    val s6 = s"regexp_replace($s5, 'False', 'false', 'g')"
    s"regexp_replace($s6, 'True', 'true', 'g')"
  }

  /** Map-typed attribute → JSON text DuckDB can parse: the repaired
    * python-literal uses single quotes (Spark's from_json tolerates
    * them; DuckDB's JSON parser does not). Safe for the fixture
    * content, which has no embedded quotes.
    */
  private def ambienceJson: String =
    s"replace(${repairSql("attributes.Ambience")}, '''', '\"')::JSON"

  def oracleSql: Map[String, String] = Map(
    "q_clean_business" ->
      s"""WITH raw AS (
         |  SELECT * FROM read_json('$businessFixture', format='newline_delimited')
         |)
         |SELECT business_id,
         |  is_open::BOOLEAN AS is_open,
         |  len(string_split(categories, ', '))::INTEGER AS n_categories,
         |  string_split(categories, ', ')[1] AS first_category,
         |  ${repairSql("attributes.WiFi")} AS attributes_wifi,
         |  TRY_CAST(${repairSql("attributes.BikeParking")} AS BOOLEAN) AS attributes_bikeparking,
         |  TRY_CAST($ambienceJson->>'$$.romantic' AS BOOLEAN) AS ambience_romantic,
         |  TRY_CAST($ambienceJson->>'$$.casual' AS BOOLEAN) AS ambience_casual,
         |  (${repairSql("attributes.GoodForMeal")} IS NULL) AS goodformeal_null,
         |  ${repairSql("attributes.RestaurantsPriceRange2")} AS price_range,
         |  TRY_CAST(string_split_regex(hours.Monday, '[-:]')[1] AS INTEGER) AS hours_monday_start_hour,
         |  TRY_CAST(string_split_regex(hours.Monday, '[-:]')[3] AS INTEGER) AS hours_monday_end_hour,
         |  TRY_CAST(string_split_regex(hours.Saturday, '[-:]')[2] AS INTEGER) AS hours_saturday_start_minute
         |FROM raw ORDER BY business_id""".stripMargin,
    "q_clean_checkin" ->
      s"""WITH raw AS (
         |  SELECT * FROM read_json('$checkinFixture', format='newline_delimited')
         |), ex AS (
         |  SELECT business_id, unnest(string_split(date, ', ')) AS d FROM raw
         |), ids AS (
         |  SELECT business_id, d,
         |    row_number() OVER (ORDER BY business_id, d) - 1 AS checkin_id
         |  FROM ex
         |), t AS (
         |  SELECT business_id, checkin_id, TRY_CAST(d AS TIMESTAMP) AS ts FROM ids
         |)
         |SELECT business_id, checkin_id,
         |  ts AS date_ts,
         |  ts::DATE AS date_date,
         |  date_trunc('week', ts)::DATE AS date_week_start_date,
         |  CAST(weekofyear(ts) AS INTEGER) AS date_week,
         |  CAST(quarter(ts) AS INTEGER) AS date_quarter,
         |  CAST(dayofweek(ts) + 1 AS INTEGER) AS date_dayofweek,
         |  CAST(month(ts) AS INTEGER) AS date_month,
         |  CAST(year(ts) AS INTEGER) AS date_year
         |FROM t ORDER BY checkin_id""".stripMargin,
    "q_clean_review" ->
      s"""WITH raw AS (
         |  SELECT * FROM read_json('$reviewFixture', format='newline_delimited')
         |), t AS (
         |  SELECT review_id, business_id, stars, useful,
         |    TRY_CAST(date AS TIMESTAMP) AS ts
         |  FROM raw
         |)
         |SELECT review_id, business_id, stars, useful,
         |  ts AS date_ts,
         |  ts::DATE AS date_date,
         |  date_trunc('week', ts)::DATE AS date_week_start_date,
         |  CAST(weekofyear(ts) AS INTEGER) AS date_week,
         |  CAST(quarter(ts) AS INTEGER) AS date_quarter,
         |  CAST(dayofweek(ts) + 1 AS INTEGER) AS date_dayofweek,
         |  CAST(month(ts) AS INTEGER) AS date_month,
         |  CAST(year(ts) AS INTEGER) AS date_year
         |FROM t ORDER BY review_id""".stripMargin,
    "q_clean_tip" ->
      s"""WITH raw AS (
         |  SELECT * FROM read_json('$tipFixture', format='newline_delimited')
         |), t AS (
         |  SELECT user_id, business_id, compliment_count,
         |    TRY_CAST(date AS TIMESTAMP) AS ts
         |  FROM raw
         |)
         |SELECT user_id, business_id, compliment_count,
         |  ts AS date_ts,
         |  ts::DATE AS date_date,
         |  CAST(dayofweek(ts) + 1 AS INTEGER) AS date_dayofweek,
         |  CAST(month(ts) AS INTEGER) AS date_month,
         |  CAST(year(ts) AS INTEGER) AS date_year
         |FROM t ORDER BY business_id, user_id""".stripMargin,
    // The user branch: same date-feature bundle as review, keyed off
    // `yelping_since` (format "yyyy-MM-dd", clean.py:134,138-139).
    // DuckDB TRY_CAST NULLs the fixture's malformed rows ("2016-13-45",
    // "", JSON null) exactly like Spark's try_to_timestamp.
    "q_clean_user" ->
      s"""WITH raw AS (
         |  SELECT * FROM read_json('$userFixture', format='newline_delimited')
         |), t AS (
         |  SELECT user_id, name, review_count, fans, average_stars,
         |    TRY_CAST(yelping_since AS TIMESTAMP) AS ts
         |  FROM raw
         |)
         |SELECT user_id, name, review_count, fans, average_stars,
         |  ts AS yelping_since_ts,
         |  ts::DATE AS yelping_since_date,
         |  date_trunc('week', ts)::DATE AS yelping_since_week_start_date,
         |  CAST(weekofyear(ts) AS INTEGER) AS yelping_since_week,
         |  CAST(quarter(ts) AS INTEGER) AS yelping_since_quarter,
         |  CAST(dayofweek(ts) + 1 AS INTEGER) AS yelping_since_dayofweek,
         |  CAST(month(ts) AS INTEGER) AS yelping_since_month,
         |  CAST(year(ts) AS INTEGER) AS yelping_since_year
         |FROM t ORDER BY user_id""".stripMargin)
}
