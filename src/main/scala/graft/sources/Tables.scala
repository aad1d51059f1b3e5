package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType, TimestampNTZType, TimestampType}

/** Parquet table registry over a testdata scale-factor directory.
  *
  * Mirrors the reference's config-driven source registry
  * (`/root/reference/src/extract/data_extractor.py:93-123` maps logical
  * dataset names to concrete files); here the format is parquet and the
  * scan is a native Spark columnar read (vectorized, with column pruning
  * and predicate pushdown handled by Catalyst).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table. `dir` is a scale-factor directory such as
    * `/root/testdata/sf0.01`.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Read a parquet directory the engine wrote itself, with the columns
    * it needs pinned: an unpinned read runs a footer-inference job first.
    * A missing directory still fails at this call.
    */
  private[graft] def pinned(spark: SparkSession, path: String,
      fields: (String, DataType)*): DataFrame =
    spark.read.schema(StructType(fields.map(f => StructField(f._1, f._2))))
      .parquet(path)

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** `events.ts` has shipped in two parquet encodings across testdata
    * generations, and both need normalizing to a session-zoned
    * TimestampType so downstream epoch math (`cast(ts as long)`) analyzes:
    *
    *   - TIMESTAMP(NANOS): Spark 4 has no native nanos type. With
    *     `spark.sql.legacy.parquet.nanosAsLong=true` (set by Verify/Bench/
    *     tests) the column arrives as epoch-nanos LongType; truncate to
    *     microseconds — the same floor DuckDB applies — and restore
    *     TimestampType. `ts div 1000` is integer division, exact for the
    *     positive epochs in play.
    *   - timestamp[us] without `isAdjustedToUTC`: Spark 4 reads it as
    *     TIMESTAMP_NTZ, and `cast(ntz as bigint)` is an analysis error.
    *     Cast to TimestampType — the session timezone is pinned to UTC, so
    *     the wall-clock fields are reinterpreted 1:1 and DuckDB's
    *     epoch math over the same file agrees.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Register every table as a temp view so `spark.sql` serves the same
    * query surface the reference serves from SQLite
    * (`/root/reference/src/load/data_loader.py:406-416`).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else table(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
