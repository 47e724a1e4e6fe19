package graft

import java.nio.file.{Files, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Pins that `Tables.parquet`'s schema memo cannot serve a wrong schema:
  * a rewrite at the same path, or a change to a conf that changes what
  * inference returns, must reach the reader; and an entry inferred with
  * nanosAsLong=true (which may carry a NANOS column as LongType) is never
  * served to a session without that conf.
  */
class SchemaMemoSpec extends SparkSpec {
  import SchemaMemoSpec.writeRows

  private def child(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  test("a file rewritten at the same path with a re-typed column is read with the new schema") {
    val s = spark
    import s.implicits._
    val src = SparkSpec.tmpDir("graft_schema_memo_rewrite")
    val path = s"$src/t.parquet"
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val out = s"$src/$name"
      df.coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, new java.io.File(path).toPath, StandardCopyOption.REPLACE_EXISTING)
    }
    stage(Seq(1L, 2L).toDF("id"), "v1")
    assert(Tables.parquet(s, path).schema("id").dataType == LongType)
    stage(Seq("a", "b", "c").toDF("id"), "v2")
    val again = Tables.parquet(s, path)
    assert(again.schema("id").dataType == StringType, "a re-typed rewrite must not serve the old schema")
    assert(again.as[String].collect().sorted.toSeq == Seq("a", "b", "c"))
  }

  test("toggling an inference conf changes the schema that is served") {
    val path = s"${SparkSpec.tmpDir("graft_schema_memo_binary")}/raw.parquet"
    writeRows(path, "message m { required binary b; }") { g =>
      Seq(g.newGroup().append("b", "x"))
    }
    val bin = "spark.sql.parquet.binaryAsString"
    assert(Tables.parquet(child(bin -> "false"), path).schema("b").dataType == BinaryType)
    assert(Tables.parquet(child(bin -> "true"), path).schema("b").dataType == StringType)
    assert(Tables.parquet(child(bin -> "false"), path).schema("b").dataType == BinaryType)
    // the driver's testdata stores timestamps with isAdjustedToUTC=false
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val events = s"$sfDir/events.parquet"
    def tsType(on: String) = Tables.parquet(child(ntz -> on), events).schema("ts").dataType
    assert(tsType("true") == TimestampNTZType)
    assert(tsType("false") == TimestampType)
    assert(tsType("true") == TimestampNTZType)
  }

  test("an entry inferred with nanosAsLong=true is never served under false") {
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val raw = s"${SparkSpec.tmpDir("graft_schema_memo_nanos")}/raw.parquet"
    writeRows(raw, "message m { required int64 ts (TIMESTAMP(NANOS,false)); }") { g =>
      Seq(g.newGroup().append("ts", 1709251200123456789L))
    }
    val on = child(nanos -> "true")
    assert(Tables.parquet(on, raw).schema("ts").dataType == LongType)
    assert(on.read.parquet(raw).schema("ts").dataType == LongType)
    // without the conf, inference refuses the NANOS column; a memo hit
    // would instead hand back the LongType schema learned under true
    val off = child(nanos -> "false")
    intercept[Exception](off.read.parquet(raw))
    intercept[Exception](Tables.parquet(off, raw))
  }

  test("resetFixtureMemo empties the fixture memo and the schema memo") {
    val s = spark
    Materialize.fixture(s, "spec-memo-reset", sfDir)(Tables.region(s, sfDir)).collect()
    assert(!Materialize.fixtureMemo.isEmpty && !Tables.schemaMemo.isEmpty)
    Materialize.resetFixtureMemo()
    assert(Materialize.fixtureMemo.isEmpty && Tables.schemaMemo.isEmpty)
  }
}

object SchemaMemoSpec {

  /** One parquet file written by parquet-mr, with no Spark schema in its
    * footer, so inference decodes the parquet types under the session confs.
    */
  def writeRows(path: String, message: String)(rows: SimpleGroupFactory => Seq[
      org.apache.parquet.example.data.Group]): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(path), new Configuration()))
      .withType(schema).build()
    try rows(new SimpleGroupFactory(schema)).foreach(w.write) finally w.close()
  }
}
