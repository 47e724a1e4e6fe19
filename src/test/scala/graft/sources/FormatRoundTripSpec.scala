package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{SparkSpec, Tables}

/** Source/sink format surface: the engine reads its canonical tables from
  * parquet, but a complete library also round-trips CSV and JSON lines
  * (ingest formats) and partitioned/compressed parquet (the lake format).
  * Schema is always explicit on read-back — inference is banned at scale
  * (a schema-inference pass is a full extra read of the data).
  */
class FormatRoundTripSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType)))

  private def sample = Tables.orders(spark, sfDir)
    .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  private def fingerprint(df: org.apache.spark.sql.DataFrame): (Long, Double, Long) = {
    val r = df.agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(38,6)")).cast("double"),
      sum(col("o_orderkey"))).head()
    (r.getLong(0), r.getDouble(1), r.getLong(2))
  }

  test("csv round-trip with explicit schema preserves values") {
    val dir = SparkSpec.tmpDir("graft-csv")
    sample.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.schema(schema).option("header", "true").csv(dir)
    assert(fingerprint(back) === fingerprint(sample))
  }

  test("json-lines round-trip with explicit schema preserves values") {
    val dir = SparkSpec.tmpDir("graft-json")
    sample.write.mode("overwrite").json(dir)
    val back = spark.read.schema(schema).json(dir)
    assert(fingerprint(back) === fingerprint(sample))
  }

  test("orc round-trip with explicit schema preserves values and pushes filters") {
    val dir = SparkSpec.tmpDir("graft-orc")
    sample.write.mode("overwrite").orc(dir)
    val back = spark.read.schema(schema).orc(dir)
    assert(fingerprint(back) === fingerprint(sample))
    val filtered = back.filter(col("o_totalprice") > 100000)
    val scan = filtered.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metadata("PushedFilters").contains("GreaterThan(o_totalprice,100000.0)"))
  }

  test("zstd parquet round-trip preserves values and keeps pushdown") {
    val dir = SparkSpec.tmpDir("graft-zstd")
    sample.write.mode("overwrite").option("compression", "zstd").parquet(dir)
    val back = spark.read.parquet(dir).filter(col("o_totalprice") > 100000)
    val scan = back.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metadata("PushedFilters").contains("GreaterThan(o_totalprice,100000.0)"))
    assert(back.count() === sample.filter(col("o_totalprice") > 100000).count())
  }
}
