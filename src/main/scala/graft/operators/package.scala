package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, count, lit, sum}

package object operators {

  /** The exact sum every module and stream uses: sum(cast(x as
    * decimal(38,6))) as double — exact, engine-independent, and matched
    * by the oracles' `CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)`.
    */
  def dsum(c: Column): Column = sum(c.cast("decimal(38,6)")).cast("double")

  /** The rows of `rows` whose `keys` group has `minSize`..`maxSize`
    * members — the one admission rule of every capped candidate join
    * (LSH buckets, metadata blocks, rare-term groups). The cap acts
    * COUNT-FIRST: a count aggregate (constant state per group) decides
    * which groups live, and the survivors are joined back on `keys`, so a
    * degenerate group is dropped before `collect_set` or the self-join
    * can build its member array or its pairs — filtering on the array
    * size afterwards would already have materialized it in executor
    * memory.
    */
  def admitted(rows: DataFrame, keys: Seq[String], minSize: Long, maxSize: Long): DataFrame =
    rows.join(rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_members"))
      .filter(col("n_members").between(minSize, maxSize)).select(keys.map(col): _*), keys)
}
