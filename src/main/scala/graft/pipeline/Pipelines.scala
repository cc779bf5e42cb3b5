package graft.pipeline

import graft.io.Sink
import graft.io.Sink.PartitionSpec
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, IntegerType, NullType, StructType}

/** The three medallion pipelines, re-expressed Spark-first.
  *
  * Mirrors the reference's CLI surface (`/root/reference/app.py:28-64`)
  * as a typed config instead of argparse + dynamic module dispatch:
  * extract (raw JSON → bronze), clean (bronze → typed silver), enrich
  * (silver fact ⋈ dims → OBT silver).
  */
final case class PipelineConfig(
    entityType: String,
    input: String,
    output: String,
    partitionColumn: Option[String] = None,
    bucketColumn: Option[String] = None,
    buckets: Option[Int] = None) {
  def spec: PartitionSpec = PartitionSpec(partitionColumn, bucketColumn, buckets)
}

object Pipelines {

  /** Output sink: (df, output, spec). Defaults to the parquet
    * fallback; pass `Sink.icebergCreateOrReplace` when an Iceberg
    * catalog is on the session. */
  type Write = (DataFrame, String, PartitionSpec) => Unit
  val parquetSink: Write = Sink.parquetWrite
  val icebergSink: Write = Sink.icebergCreateOrReplace

  /** Extract (`extract.py:18-42`): newline-delimited JSON → bronze.
    * Schema inference is the reference default (one extra pass over
    * the data); pass `schema` for the deterministic production path.
    */
  def extract(
      spark: SparkSession,
      cfg: PipelineConfig,
      schema: Option[StructType] = None,
      write: Write = parquetSink): DataFrame = {
    val reader = spark.read
    val df = schema.fold(reader)(reader.schema).json(cfg.input)
    write(df, cfg.output, cfg.spec)
    df
  }

  /** Clean transform (`clean.py:21-146`), entity-branched exactly as
    * the reference. Exposed separately from the write so queries can
    * run it standalone.
    *
    * @param deterministicIds replace `monotonically_increasing_id`
    *   with an order-based dense id (oracle-comparable; costs a global
    *   sort — keep the faithful default at scale).
    */
  def cleanTransform(
      df0: DataFrame,
      entityType: String,
      deterministicIds: Boolean = false): DataFrame = {
    var df = df0
    if (entityType == "checkin") {
      df = df.withColumn("date", explode(split(col("date"), ", ", -1)))
      df =
        if (deterministicIds)
          Surrogate.withSequentialId(df, "checkin_id", col("business_id"), col("date"))
        else Surrogate.withUniqueId(df, "checkin_id")
    }
    if (entityType == "business") {
      df = df.withColumn("is_open", col("is_open").try_cast(BooleanType))
      df = df.withColumn("categories", split(col("categories"), ", ", -1))
      val startColumns = df.columns.toSet
      // Attributes: flatten → 6-step python-literal repair → one-job
      // data-dependent typing (Map<String,Boolean> → Map<String,String>
      // → Boolean → stays string).
      df = df.select(SchemaOps.flattenStruct(df.schema, None, Some(Seq("attributes"))): _*)
      val attributeColumns = df.columns.filterNot(startColumns).toSeq
      // One withColumns call, not a withColumn loop: each withColumn
      // re-analyzes the whole plan, which is O(n²) driver time over the
      // ~39 Yelp attribute columns (the reference's own loop shape,
      // clean.py:66-94, rebuilt right).
      df = df.withColumns(
        attributeColumns.map(c => c -> StringRepair.repair(col(c))).toMap)
      df = SafeCast.convertColumns(df, attributeColumns, SafeCast.yelpAttributeCandidates)
      // Opening hours: flatten → "7:0-20:0" → 4 int components, as a
      // single projection (same final column order the per-column
      // withColumn+drop loop produced: untouched columns first, then
      // the 4 components per hours column in flatten order).
      df = df.select(SchemaOps.flattenStruct(df.schema, None, Some(Seq("hours"))): _*)
      val hoursColumns =
        df.columns.filterNot(startColumns).filterNot(attributeColumns.toSet).toSeq
      if (hoursColumns.nonEmpty) {
        val untouched = df.columns.filterNot(hoursColumns.toSet).map(col).toSeq
        val components = hoursColumns.flatMap { c =>
          val parts = split(col(c), "[-:]")
          Seq(
            parts.getItem(0).try_cast(IntegerType).as(s"${c}_start_hour"),
            parts.getItem(1).try_cast(IntegerType).as(s"${c}_start_minute"),
            parts.getItem(2).try_cast(IntegerType).as(s"${c}_end_hour"),
            parts.getItem(3).try_cast(IntegerType).as(s"${c}_end_minute"))
        }
        df = df.select(untouched ++ components: _*)
      }
    }
    if (Set("checkin", "review", "tip", "user").contains(entityType)) {
      val fmt =
        if (entityType == "checkin") "yyyy-MM-dd HH:mm:ss" else "yyyy-MM-dd"
      val tsColumn = if (entityType == "user") "yelping_since" else "date"
      df = DateFeatures.withDateFeatures(df, tsColumn, Some(fmt))
    }
    df
  }

  /** Clean (`clean.py`): transform + write. */
  def clean(
      spark: SparkSession,
      cfg: PipelineConfig,
      write: Write = parquetSink,
      deterministicIds: Boolean = false): DataFrame = {
    val df = cleanTransform(spark.read.parquet(cfg.input), cfg.entityType, deterministicIds)
    write(df, cfg.output, cfg.spec)
    df
  }

  /** Read a silver table back with `date_year` integer-typed, as the
    * clean wrote it. When every date failed to parse, all rows sit in
    * the null partition and partition discovery types the column VOID,
    * which no writer can partition by; the reference's Iceberg table
    * keeps its declared type there.
    */
  private def readSilver(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    if (df.schema.exists(f => f.name == "date_year" && f.dataType == NullType))
      df.withColumn("date_year", col("date_year").cast(IntegerType))
    else df
  }

  /** Enrich (`enrich.py`): OBT join of fact to prefixed dims + write.
    * `dimensions` maps entityType → input path, mirroring the
    * reference's --dimension_inputs/--dimension_entity_types CLI pair.
    */
  def enrich(
      spark: SparkSession,
      cfg: PipelineConfig,
      dimensions: Seq[(String, String)],
      write: Write = parquetSink): DataFrame = {
    Enrich.spjConfigs.foreach { case (k, v) =>
      try spark.conf.set(k, v) catch { case _: Exception => () }
    }
    val fact = readSilver(spark, cfg.input)
    val dims = dimensions.map { case (entityType, path) =>
      Enrich.Dim(entityType, readSilver(spark, path), Enrich.yelpJoinKey(entityType))
    }
    val obt = Enrich.oneBigTable(fact, dims)
    write(obt, cfg.output, cfg.spec)
    obt
  }
}
