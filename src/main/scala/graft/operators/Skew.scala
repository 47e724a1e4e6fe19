package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Skew-mitigation operators. At 100 TB a handful of hot keys (one huge
  * customer, one dominant event_type) turn a single shuffle partition into
  * the job's critical path; the standard fixes are (a) AQE skew-join
  * splitting (config, free) and (b) explicit salting, which also covers
  * aggregation skew that AQE does not rebalance when a single KEY (not
  * partition) is hot. This module implements (b) as a reusable combinator.
  */
object Skew {

  /** Two-stage salted aggregation: stage 1 aggregates on (key, salt) —
    * spreading a hot key over `salts` reducers — stage 2 merges the salted
    * partials. Correct for any algebraic aggregate (sum/count/min/max);
    * the result is exactly the unsalted groupBy.
    *
    * The salt must be deterministic per row (retries must re-salt
    * identically, or shuffle-file reuse double-counts): derived from a
    * row-identity column, never rand().
    */
  def saltedSumCount(df: DataFrame, key: Column, rowId: Column, value: Column,
                     salts: Int): DataFrame =
    df.groupBy(key.as("k"), pmod(hash(rowId), lit(salts)).as("salt"))
      .agg(sum(value.cast("decimal(38,6)")).as("partial_sum"),
        count(lit(1)).as("partial_n"))
      .groupBy("k")
      .agg(sum(col("partial_sum")).cast("double").as("sum_value"),
        sum(col("partial_n")).as("n"))

  /** Salted JOIN — the join-side counterpart of saltedSumCount, for when
    * one probe-side key is hot enough that even AQE's partition splitting
    * leaves a straggler (AQE splits skewed PARTITIONS; a single hot KEY
    * inside one partition still lands on one reducer unless salted).
    * Probe rows get a deterministic salt in [0, salts); the build side is
    * replicated ×salts via explode, so (key, salt) is a plain equi-join
    * with the hot key spread over `salts` reducers. Result == the
    * unsalted join, which is what the oracle states.
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
                 probeRowId: Column, salts: Int): DataFrame = {
    val salted = probe.withColumn("salt", pmod(hash(probeRowId), lit(salts)))
    val replicated = build.withColumn("salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, Seq(key, "salt")).drop("salt")
  }

  /** Hot-key isolation join — the OTHER standard skew fix, complementary
    * to salting: detect the hot probe keys count-first, route them through
    * a broadcast join of the (tiny) hot slice of the build side, and let
    * the cold majority take the ordinary shuffle join; the union is
    * exactly the plain join. Where salting spreads ONE reducer's key over
    * N reducers (paying a ×N build replication for every key), isolation
    * pays nothing for the cold 99% and removes the hot keys from the
    * shuffle entirely — the shape to prefer when hotness is concentrated
    * in few keys (power-law event streams, null-ish sentinel keys).
    *
    * Detection is an aggregate, never a sample: per-key counts + the
    * global (total, n_keys) pair decide hotness with exact integer
    * arithmetic (cnt · n_keys · 3 > total · 4 ⟺ cnt > 4/3 · mean), so
    * the routing is deterministic and partition-invariant.
    *
    * The hot set is CAPPED at `maxHotKeys` (top keys by count, total
    * order via the key tiebreak) so the broadcast frames are bounded by
    * construction: on a distribution where many keys clear the 4/3×mean
    * threshold (bimodal keys — the "few hot keys" premise failing), the
    * overflow keys simply stay on the cold shuffle path, where AQE's
    * skew-split still covers them — graceful degradation to the plain
    * join, never an unbounded broadcast that fails at runtime. The
    * union is exactly the plain join in every case.
    */
  def hotKeyIsolatedJoin(probe: DataFrame, build: DataFrame, key: String,
                         maxHotKeys: Int = 1024): DataFrame = {
    val counts = probe.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
    val global = counts.agg(sum("cnt").as("total"), count(lit(1)).as("n_keys"))
    // orderBy+limit, not a window: TakeOrdered keeps per-partition top-N
    // and merges — no single-partition sort even when MANY keys qualify
    val hot = counts.crossJoin(broadcast(global))
      .filter(col("cnt") * col("n_keys") * 3 > col("total") * 4)
      .orderBy(col("cnt").desc, col(key).asc)
      .limit(maxHotKeys)
      .select(col(key))
    val probeHot = probe.join(broadcast(hot), Seq(key), "left_semi")
    val probeCold = probe.join(broadcast(hot), Seq(key), "left_anti")
    val buildHot = build.join(broadcast(hot), Seq(key), "left_semi")
    probeHot.join(broadcast(buildHot), Seq(key))
      .unionByName(probeCold.join(build, Seq(key)))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // salted aggregation over the (deliberately low-cardinality, hence
    // "all keys hot") l_returnflag key. Result == plain groupBy, so the
    // oracle is the unsalted SQL — decimal partials re-merge exactly.
    "k01_salted_agg" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      // row identity hashed directly from the two longs — a concat_ws
      // string detour would pay a per-row build+hash-of-string tax
      saltedSumCount(li, col("l_returnflag"),
        hash(col("l_orderkey"), col("l_linenumber")),
        col("l_extendedprice"), salts = 16)
        .select(col("k").as("l_returnflag"), col("sum_value"), col("n"))
        .orderBy("l_returnflag")
    }),

    // salted join: every lineitem keyed by the (5-value, hence all-hot)
    // l_returnflag joins a tiny per-flag dimension built from orders'
    // priority universe — the "hot key × small build side" shape. The
    // salt spreads each flag over 16 reducers; the aggregate proves the
    // join result is exactly the unsalted join's.
    "k02_salted_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"), col("l_orderkey"),
          col("l_linenumber"), col("l_quantity"))
      // deterministic 5-row "dimension": per-flag multiplier table
      val dim = li.select(col("flag")).distinct()
        .withColumn("mult", (length(col("flag")) + lit(1)).cast("long"))
      saltedJoin(li, dim, "flag", hash(col("l_orderkey"), col("l_linenumber")), salts = 16)
        .groupBy("flag")
        .agg(count(lit(1)).as("n"),
          dsum(col("l_quantity").cast("decimal(38,6)") * col("mult")).as("weighted_qty"))
        .orderBy("flag")
    }),

    // hot-key isolation on the lineitem ⋈ part join: partkeys above 4/3×
    // the mean probe count are routed through a broadcast of their build
    // slice; the cold rest shuffle normally. The per-key aggregate proves
    // route-invisibility: result == the plain join, which the oracle
    // states. (TPC-H partkeys are near-uniform, so the 4/3 threshold
    // admits a real-but-small hot set at every SF — the routing, semi/
    // anti splits, and union all execute on both paths.)
    "k03_hot_key_isolation" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("p_partkey"), col("l_quantity"), col("l_extendedprice"))
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_size"))
      hotKeyIsolatedJoin(li, p, "p_partkey")
        .groupBy("p_partkey")
        .agg(count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice").cast("decimal(38,6)") * col("p_size").cast("long"))
            .as("weighted_price"))
        .orderBy("p_partkey")
    }),

    // SALT PLANNING — the audit that produces the `salts` number k01/k02
    // consume, instead of a hand-picked constant: per-key row counts,
    // a data-derived per-reducer target (total div 256 — ~8 waves on 32
    // reducers, the spill-free sizing rule from the module scaladoc),
    // and for each of the 10 hottest keys its ceil-division salt factor
    // and the projected post-salt max reducer load. All integer
    // arithmetic ((n + t − 1) div t, no floats); one scan + one hash
    // agg + a broadcast 1-row total + TakeOrdered(10) — nothing global
    // sorts, corpus-linear at any scale.
    "k04_salt_plan" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val byKey = li.groupBy(col("l_suppkey").as("key")).agg(count(lit(1)).as("n_rows"))
      val tgt = byKey.agg(sum("n_rows").as("total"))
        .select(col("total"), greatest(lit(1L), expr("total div 256")).as("target"))
      byKey.crossJoin(broadcast(tgt))
        .select(col("key"), col("n_rows"), col("target"),
          expr("(n_rows + target - 1) div target").as("salt_factor"))
        .withColumn("post_salt_load", expr("(n_rows + salt_factor - 1) div salt_factor"))
        .orderBy(col("n_rows").desc, col("key").asc)
        .limit(10)
    }),

    // HASH-PARTITION BALANCE AUDIT — the measurement that motivates this
    // whole module: hash-partition the event stream by its LOW-CARDINALITY
    // key (event_type) into 32 reducers and show the load histogram. With
    // a handful of distinct keys most partitions are EMPTY and the loaded
    // ones carry whole keys — the per-KEY skew that AQE's partition
    // splitting cannot fix (k01/k02's salting and k03's isolation are the
    // fixes; k04 sizes them). Empty partitions surface as zero rows (the
    // d13 zero-cell rule) via the generated partition grid; the hot flag
    // is the integer cross-multiplication n·32 > 2·total. One count agg
    // collapses any event volume to ≤ |keys| rows; the grid is 32 rows.
    "k05_hash_balance" -> ((s, dir) => {
      val parts = Tables.events(s, dir)
        .select(pmod(xxhash64(col("event_type")), lit(HashParts)).as("p"),
          col("event_type"))
        .groupBy("p")
        .agg(count(lit(1)).as("n_rows"), count_distinct(col("event_type")).as("n_keys"))
      val grid = s.range(1)
        .select(explode(expr(s"sequence(0L, ${HashParts - 1})")).as("p"))
      val tot = parts.agg(sum("n_rows").as("total"))
      grid.join(parts, Seq("p"), "left")
        .crossJoin(broadcast(tot))
        .select(col("p"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"),
          coalesce(col("n_keys"), lit(0L)).as("n_keys"),
          col("total"),
          (coalesce(col("n_rows"), lit(0L)) * HashParts).cast("double")
            .divide(col("total").cast("double")).as("load_ratio"),
          (coalesce(col("n_rows"), lit(0L)) * HashParts > col("total") * 2).as("is_hot"))
        .orderBy("p")
    })
  )

  /** k05 reducer count: the partition grid the balance audit hashes into. */
  val HashParts = 32L

  def oracles: Map[String, String] = Map(
    "k01_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // the UNSALTED join — salting must be answer-invisible
    "k02_salted_join" ->
      """WITH dim AS (
        |  SELECT DISTINCT l_returnflag AS flag,
        |    CAST(LENGTH(l_returnflag) + 1 AS BIGINT) AS mult
        |  FROM lineitem
        |)
        |SELECT li.l_returnflag AS flag, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(38,6)) * mult AS DECIMAL(38,6))) AS DOUBLE) AS weighted_qty
        |FROM lineitem li JOIN dim ON li.l_returnflag = dim.flag
        |GROUP BY li.l_returnflag
        |ORDER BY flag""".stripMargin,

    // the UNROUTED join — hot/cold routing must be answer-invisible
    "k03_hot_key_isolation" ->
      """SELECT p.p_partkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(38,6)) * CAST(p_size AS BIGINT) AS DECIMAL(38,6))) AS DOUBLE)
        |    AS weighted_price
        |FROM lineitem li JOIN part p ON li.l_partkey = p.p_partkey
        |GROUP BY p.p_partkey
        |ORDER BY p.p_partkey""".stripMargin,

    // same ceil-division plan; DuckDB's SUM widens to HUGEINT so the
    // total and every derived integer CAST back to BIGINT
    "k04_salt_plan" ->
      """WITH byk AS (
        |  SELECT l_suppkey AS key, COUNT(*) AS n_rows FROM lineitem GROUP BY l_suppkey
        |), tg AS (
        |  SELECT CAST(SUM(n_rows) AS BIGINT) AS total,
        |    CAST(GREATEST(1, SUM(n_rows) // 256) AS BIGINT) AS target
        |  FROM byk
        |)
        |SELECT key, n_rows, target,
        |  CAST((n_rows + target - 1) // target AS BIGINT) AS salt_factor,
        |  CAST((n_rows + ((n_rows + target - 1) // target) - 1)
        |    // ((n_rows + target - 1) // target) AS BIGINT) AS post_salt_load
        |FROM byk CROSS JOIN tg
        |ORDER BY n_rows DESC, key ASC
        |LIMIT 10""".stripMargin,

    // the same xxhash64 partitioning restated via the DuckHash string
    // chain (hv is the unsigned hash, so hv % 32 ≡ Spark's pmod — 32
    // divides 2^64); empty partitions from the generated grid
    "k05_hash_balance" ->
      s"""WITH gr AS (
         |  SELECT event_type AS gid, event_type AS g
         |  FROM (SELECT DISTINCT event_type FROM events)
         |), ${graft.operators.DuckHash.xxh64StrCtes()}, keyp AS (
         |  SELECT gid AS event_type, CAST(hv % $HashParts AS BIGINT) AS p FROM gh
         |), parts AS (
         |  SELECT k.p, COUNT(*) AS n_rows, COUNT(DISTINCT e.event_type) AS n_keys
         |  FROM events e JOIN keyp k ON k.event_type = e.event_type
         |  GROUP BY k.p
         |), grid AS (
         |  SELECT unnest(range(0, $HashParts)) AS p
         |), tot AS (
         |  SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM parts
         |)
         |SELECT grid.p, COALESCE(parts.n_rows, 0) AS n_rows,
         |  COALESCE(parts.n_keys, 0) AS n_keys, tot.total,
         |  CAST(COALESCE(parts.n_rows, 0) * $HashParts AS DOUBLE)
         |    / CAST(tot.total AS DOUBLE) AS load_ratio,
         |  COALESCE(parts.n_rows, 0) * $HashParts > tot.total * 2 AS is_hot
         |FROM grid LEFT JOIN parts USING (p) CROSS JOIN tot
         |ORDER BY grid.p""".stripMargin
  )
}
