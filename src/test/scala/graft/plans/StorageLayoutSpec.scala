package graft.plans

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.{SparkSpec, Tables}

/** Storage-layout scale techniques: bucketing (co-located joins with zero
  * shuffle) and partition pruning (scan skips directories). These are the
  * two levers that matter most at 100 TB — a bucketed fact-fact join never
  * shuffles the fact tables, and a date-partitioned layout turns
  * time-bounded scans from full-table reads into touched-partition reads.
  * The specs assert the PLAN SHAPE, not just the answer.
  */
class StorageLayoutSpec extends SparkSpec {

  private def shuffleCount(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan
    val finalPlan = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    finalPlan.collect { case e: ShuffleExchangeExec => e }.size +
      // AQE wraps subtrees; collect nested adaptive plans too
      finalPlan.collect { case a: AdaptiveSparkPlanExec => a }
        .map(a => a.executedPlan.collect { case e: ShuffleExchangeExec => e }.size).sum
  }

  test("bucketed join: co-partitioned tables join with zero shuffle exchanges") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast path
    try {
      Tables.lineitem(spark, sfDir).write
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("li_bucketed")
      Tables.orders(spark, sfDir).write
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("o_bucketed")

      val li = spark.table("li_bucketed")
      val o = spark.table("o_bucketed")
      val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))

      // the join itself must not shuffle either side: only the (tiny)
      // post-join aggregation exchanges
      val nShuffles = shuffleCount(joined)
      assert(nShuffles <= 1, s"expected only the final agg shuffle, got $nShuffles")

      // and the answer matches the unbucketed plan
      val expected = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("dynamic partition pruning: a runtime dimension filter prunes fact partitions") {
    // the 100 TB star-join lever static pruning can't reach: the fact
    // filter is only known after filtering the DIMENSION, so Catalyst
    // injects a DynamicPruningSubquery into the fact scan's partition
    // filters (reusing the broadcast) and untouched year directories are
    // never read
    import spark.implicits._
    val dir = SparkSpec.tmpDir("graft-dpp")
    Tables.orders(spark, sfDir)
      .withColumn("order_year", year(col("o_orderdate")))
      .write.partitionBy("order_year").mode("overwrite").parquet(dir)
    val fact = spark.read.parquet(dir)
    // the dim must be a real scan with a real Filter node — a local Seq
    // constant-folds away (ConvertToLocalRelation), leaving no selective
    // predicate for the PartitionPruning rule to key on
    val dimDir = SparkSpec.tmpDir("graft-dpp-dim")
    Seq((1996, "keep"), (1997, "drop"), (1998, "drop")).toDF("yr", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = fact.join(dim.filter(col("tag") === "keep"), col("order_year") === col("yr"))
    val scan = joined.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.exists(f =>
      f.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningSubquery])),
      s"expected a dynamic pruning subquery in partition filters: ${scan.partitionFilters}")
    val expected = Tables.orders(spark, sfDir)
      .filter(year(col("o_orderdate")) === 1996).count()
    assert(joined.count() === expected)
  }

  test("partition pruning: a date-bounded scan reads only matching partitions") {
    val dir = SparkSpec.tmpDir("graft-part")
    Tables.orders(spark, sfDir)
      .withColumn("order_year", year(col("o_orderdate")))
      .write.partitionBy("order_year").mode("overwrite").parquet(dir)

    val pruned = spark.read.parquet(dir).filter(col("order_year") === 1997)
    // sparkPlan (pre-AQE) exposes the scan node directly
    val scan = pruned.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    // partition filter present, and the scan selects a strict subset of
    // the partition directories
    assert(scan.partitionFilters.nonEmpty, "partition filter must reach the scan")
    val years = Tables.orders(spark, sfDir)
      .select(year(col("o_orderdate"))).distinct().count()
    assert(scan.selectedPartitions.partitionCount === 1,
      s"one of $years year partitions selected, got ${scan.selectedPartitions.partitionCount}")
    // correctness: pruned count == filtered count on the unpartitioned table
    val expected = Tables.orders(spark, sfDir).filter(year(col("o_orderdate")) === 1997).count()
    assert(pruned.count() === expected)
  }
}
