package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Regression pin for the events-loader schema drift that cost round 5 a
  * third of the catalog: the driver regenerated `/root/testdata` and
  * `events.ts` changed physical type from INT64 TIMESTAMP(NANOS) to plain
  * `timestamp[us]`, while both loaders hard-assumed nanos — 22 batch
  * queries threw and 11 streaming queries silently returned 1000×-shifted
  * timestamps.
  *
  * [[Tables.adaptiveTs]] now branches on the type the scan actually
  * produced. This spec writes the same instants through every encoding a
  * testdata generation has shipped (or could ship from a Spark writer) —
  * long nanos, TIMESTAMP_NTZ µs (the current generation's
  * isAdjustedToUTC=false shape), and TIMESTAMP µs — round-trips each
  * through parquet, and asserts all three decode to the identical
  * TimestampType instants. Parquet-mr-written INT64 TIMESTAMP(NANOS) and
  * TIMESTAMP(MICROS) files pin the same instants through `Tables.events`,
  * on the suite session and on a child session; both read NANOS only
  * because they inherit the session builder's nanosAsLong. A last check
  * reads the REAL testdata so in-round drift fails here first, loudly, not
  * in the driver's gate.
  */
class TablesAdaptiveSpec extends SparkSpec {

  // 2024-03-01 00:00:00.123456 UTC and one second later, as epoch micros
  private val micros = Seq(1709251200123456L, 1709251201123456L)

  test("adaptiveTs decodes long-nanos, TIMESTAMP_NTZ, and TIMESTAMP parquet to identical instants") {
    val s = spark
    import s.implicits._

    val asLongNanos = micros.map(_ * 1000L).toDF("ts")
    val asNtz = micros.toDF("us")
      .select(expr("cast(timestamp_micros(us) as timestamp_ntz)").as("ts"))
    val asTs = micros.toDF("us").select(timestamp_micros(col("us")).as("ts"))

    val decoded = Seq("nanos" -> asLongNanos, "ntz" -> asNtz, "ts" -> asTs).map {
      case (name, df) =>
        val dir = SparkSpec.tmpDir(s"graft_adaptive_$name")
        df.write.mode("overwrite").parquet(dir)
        val out = Tables.adaptiveTs(s.read.parquet(dir))
        assert(out.schema("ts").dataType == TimestampType, s"$name branch must yield TimestampType")
        name -> out.select(col("ts").cast("long").as("sec"), expr("unix_micros(ts)").as("us"))
          .orderBy("us").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }.toMap

    assert(decoded("nanos") == decoded("ntz"), "nanos and NTZ encodings must agree")
    assert(decoded("ntz") == decoded("ts"), "NTZ and TIMESTAMP encodings must agree")
    assert(decoded("ts").map(_._2) == micros, "decoded micros must be the written instants")
  }

  test("INT64 TIMESTAMP(NANOS) events read through Tables.events on the session and a child session") {
    // parquet-mr writes the logical type Spark's own writer never emits;
    // the reader rejects it unless the session reads it as a raw long
    val dirs = Seq("NANOS" -> 1000L, "MICROS" -> 1L).map { case (unit, scale) =>
      val dir = SparkSpec.tmpDir(s"graft_adaptive_${unit.toLowerCase}")
      SchemaMemoSpec.writeRows(s"$dir/events.parquet",
        s"message m { required int64 ts (TIMESTAMP($unit,false)); }") { g =>
        micros.map(us => g.newGroup().append("ts", us * scale))
      }
      unit -> dir
    }.toMap
    def instants(s: org.apache.spark.sql.SparkSession, dir: String): Seq[Long] = {
      val e = Tables.events(s, dir)
      assert(e.schema("ts").dataType == TimestampType)
      e.select(expr("unix_micros(ts)")).collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(instants(spark, dirs("MICROS")) == micros)
    assert(instants(spark, dirs("NANOS")) == micros)
    assert(instants(spark.newSession(), dirs("NANOS")) == micros)
  }

  test("adaptiveTs fails loud on an unknown ts encoding") {
    val s = spark
    import s.implicits._
    val bogus = Seq("2024-01-01").toDF("ts")
    val ex = intercept[IllegalStateException](Tables.adaptiveTs(bogus))
    assert(ex.getMessage.contains("unsupported"))
  }

  test("current testdata decodes through Tables.events with sane event-time range") {
    val e = Tables.events(spark, sfDir)
    assert(e.schema("ts").dataType == TimestampType)
    val Array(row) = e.agg(
      min(year(col("ts"))).as("lo"), max(year(col("ts"))).as("hi"), count(lit(1)).as("n")).collect()
    assert(row.getLong(2) > 0, "events must be non-empty")
    val (lo, hi) = (row.getInt(0), row.getInt(1))
    // a 1000× shift lands in 1970; a 1000× inflation lands past year 50000
    assert(lo >= 2000 && hi <= 2100, s"event years [$lo,$hi] outside sane range — encoding drift?")
  }
}
