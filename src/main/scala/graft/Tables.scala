package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Canonical loaders for the driver-generated test tables
  * (`/root/testdata/sf*`; see TESTDATA.md).
  *
  * All engine code reads tables through here so that scan-level concerns
  * (nanosecond-timestamp decoding, column naming) are handled exactly once.
  *
  * Scale notes (100 TB target): loaders return plain parquet scans — no
  * `.cache()`, no collect — so Catalyst keeps predicate pushdown / column
  * pruning / partition pruning on the scan. On a real cluster these paths
  * would be directories of many files; everything downstream only assumes
  * "a DataFrame with this schema".
  *
  * Every parquet read of a stored table goes through [[parquet]], which
  * learns a path's footer schema once per JVM and then hands it to the
  * reader: an untyped `spark.read.parquet` runs a one-task Spark job per
  * call just to read one footer (72–87 ms per warm read of the sf0.01
  * tables on 4 CPUs, against 6–8 ms for a typed read).
  */
object Tables {

  /** Schema-adaptive rebuild of `ts` into a session-TZ TimestampType (µs)
    * column — the one shape all downstream operators assume.
    *
    * events.ts has shipped in two physical encodings across testdata
    * generations: parquet INT64 TIMESTAMP(NANOS), which the session reads
    * as a raw long (`CatalogRunner.session` sets
    * `spark.sql.legacy.parquet.nanosAsLong`), and plain `timestamp[us]`
    * (isAdjustedToUTC=false), which Spark 4 reads as TIMESTAMP_NTZ. A real
    * engine reads the footer and adapts; hard-coding either encoding is how
    * a testdata regeneration silently kills every event-time query.
    *
    *  - LongType (nanos-as-long): `div 1000` → µs. `div` (integral), not
    *    `/`, which on longs is DOUBLE division and truncates ns epochs
    *    (~1.77e18 > 2^53) by up to 1µs.
    *  - TIMESTAMP_NTZ (`timestamp[us]` parquet): cast to TimestampType;
    *    the session TZ is pinned to UTC by every entrypoint, so the cast
    *    is value-preserving and matches DuckDB's read of the same file.
    *  - TimestampType: already the target shape.
    *
    * Anything else fails loud — an unknown third encoding must not
    * silently produce shifted timestamps.
    */
  def adaptiveTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType    => df
    case other =>
      throw new IllegalStateException(
        s"events.ts has unsupported parquet-decoded type $other; " +
          "expected INT64 nanos-as-long, TIMESTAMP_NTZ, or TIMESTAMP")
  }

  /** The session confs that change what parquet schema inference returns
    * for the same file: how un-annotated BINARY and INT96 decode, whether
    * `isAdjustedToUTC=false` timestamps become TIMESTAMP_NTZ, whether INT64
    * TIMESTAMP(NANOS) decodes as a long, and whether a multi-file
    * directory's footers are merged.
    */
  private val inferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema")

  /** Inferred footer schemas, keyed by path, the path's source fingerprint
    * (`Materialize.sourceFingerprint`: a rewrite at the same path changes
    * the key) and the [[inferenceConfs]] values.
    * Cleared by `Materialize.resetFixtureMemo()`.
    */
  private[graft] val schemaMemo = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The parquet table at `path`, with its schema inferred at most once
    * per (path, fingerprint, confs) per JVM; every later call is a typed
    * read that launches no Spark job.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val key = (path +: Materialize.sourceFingerprint(spark, path) +:
      inferenceConfs.map(spark.conf.get(_).toLowerCase)).mkString("|")
    val schema = Option(schemaMemo.get(key)).getOrElse {
      val inferred = spark.read.parquet(path).schema
      schemaMemo.putIfAbsent(key, inferred)
      inferred
    }
    spark.read.schema(schema).parquet(path)
  }

  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** `events` with `ts` rebuilt as a TimestampType (µs) column, whatever
    * physical encoding the current testdata generation used ([[adaptiveTs]]).
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    adaptiveTs(read(spark, dir, "events"))
}
