package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.sum

package object operators {

  /** The exact sum every module and stream uses: sum(cast(x as
    * decimal(38,6))) as double — exact, engine-independent, and matched
    * by the oracles' `CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)`.
    */
  def dsum(c: Column): Column = sum(c.cast("decimal(38,6)")).cast("double")
}
