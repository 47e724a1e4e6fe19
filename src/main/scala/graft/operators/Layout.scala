package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Storage-layout operators: multi-dimensional clustering keys. At 100 TB
  * the dominant cost is the scan, and the lever on the scan is LAYOUT —
  * min/max zone maps only prune files whose key ranges are tight. A linear
  * sort gives tight ranges on ONE column; a Z-ORDER (Morton) key
  * interleaves the bits of two columns so files are tight in BOTH, which
  * is what lets `WHERE l_partkey BETWEEN … AND l_suppkey BETWEEN …` skip
  * most of the table (the technique behind Delta/Iceberg Z-ordering).
  *
  * The interleave is pure 64-bit integer arithmetic (masks, ors, adds —
  * the classic magic-number bit spread, written with *2ⁿ instead of
  * shifts so the SAME formula text runs on Spark SQL and DuckDB), so the
  * whole query is codegen'd scan + one hash agg and the oracle is exact.
  */
object Layout {

  /** `1 << ZBucketShiftBits` = z-range per layout bucket (top 8 of 32
    * interleaved bits ⇒ 256 buckets).
    */
  val ZBucketDiv = 16777216L // 2^24

  /** 16-bit → 32-bit even-position bit spread (abcd… → 0a0b0c0d…),
    * engine-portable: only `&`, `|`, `*` on BIGINT.
    */
  private def spread(x: String): String = {
    val m1 = s"((($x) | (($x) * 256)) & 16711935)"   // 0x00FF00FF
    val m2 = s"((($m1) | (($m1) * 16)) & 252645135)" // 0x0F0F0F0F
    val m3 = s"((($m2) | (($m2) * 4)) & 858993459)"  // 0x33333333
    s"((($m3) | (($m3) * 2)) & 1431655765)"          // 0x55555555
  }

  /** Morton key of two 16-bit-masked columns: x bits at odd positions,
    * y bits at even. Same text compiles in Spark SQL (`expr`) and DuckDB.
    */
  def zExpr(xCol: String, yCol: String): String =
    s"((${spread(s"($xCol) & 65535")}) * 2) | (${spread(s"($yCol) & 65535")})"

  /** z02 bin capacity (rows per compacted output "file"). */
  val CompactTargetRows = 500L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SMALL-FILE COMPACTION PLANNING — the other recurring layout job
    // (z01 decides HOW to sort, z02 decides WHAT to coalesce): given a
    // file inventory (here each (ship-month, returnflag) slice stands in
    // for one small file with its row count), assign files to
    // target-sized output bins WITHIN each partition. The assignment is
    // the streaming first-fit plan every table service runs: order files
    // deterministically (size desc, then key), prefix-sum the sizes, and
    // bin = floor(running-sum-before / target) — pure window arithmetic,
    // integer-exact. The crucial scale property: the plan runs over the
    // FILE MANIFEST (metadata, ~10⁶ rows at 100 TB), never the data —
    // one shuffle keyed by partition, one window pass, and the data
    // itself moves exactly once when the plan executes.
    "z02_compaction_plan" -> ((s, dir) => {
      val files = Tables.lineitem(s, dir)
        .groupBy(date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM").as("ship_month"),
          col("l_returnflag"))
        .agg(count(lit(1)).as("size_rows"))
      val ord = Window.partitionBy("ship_month")
        .orderBy(col("size_rows").desc, col("l_returnflag").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      files
        .withColumn("cum_before",
          sum(col("size_rows")).over(ord) - col("size_rows"))
        .withColumn("bin", expr(s"cum_before div $CompactTargetRows"))
        .select("ship_month", "l_returnflag", "size_rows", "bin")
        .orderBy("ship_month", "l_returnflag")
    }),

    // Z-ORDER LAYOUT AUDIT: bucket lineitem by the top 8 bits of the
    // Morton key of (l_partkey, l_suppkey) — each bucket is what one
    // z-ordered output file would hold — and report both dimensions'
    // min/max zone-map ranges per bucket. Keys are min-max scaled into
    // the 16-bit domain first (integer arithmetic over a broadcast 1-row
    // bounds frame — how production z-ordering bins arbitrary domains),
    // so the tiling is real at every scale factor. Range tightness in
    // BOTH columns at once is the whole point (a partkey-sorted layout
    // makes range_sk ≈ the full domain); LayoutSpec asserts the
    // tightness quantitatively, the oracle pins the exact arithmetic.
    "z01_zorder_layout" -> ((s, dir) =>
      zoneMaps(s, dir)
        .select(col("bucket"), col("n"),
          col("min_pk"), col("max_pk"), (col("max_pk") - col("min_pk")).as("range_pk"),
          col("min_sk"), col("max_sk"), (col("max_sk") - col("min_sk")).as("range_sk"))
        .orderBy("bucket")),

    // ZONE-MAP SKIPPING AUDIT — the read side of z01 (z01 decides the
    // sort, z02 the compaction, z03 measures what the layout BUYS): for
    // four deterministic 2-D probe boxes (the diagonal quartile cells of
    // the (partkey, suppkey) grid), evaluate each box against the
    // per-bucket min/max zone maps — a bucket is read iff its ranges
    // overlap the box — and compare rows-scanned against the exact
    // matching rows. This is the data-skipping arithmetic every
    // Delta/Iceberg scan runs from manifest stats before touching a
    // file: metadata-sized (256 zone rows × 4 boxes), one exact
    // conditional-count pass for ground truth, all integers plus one
    // IEEE division ⇒ hash-exact.
    "z03_zone_skipping" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_partkey", "l_suppkey")
      val bounds = li.agg(
        min("l_partkey").as("pk0"), max("l_partkey").as("pk1"),
        min("l_suppkey").as("sk0"), max("l_suppkey").as("sk1"))
      quartileProbes(zoneMaps(s, dir), bounds, li, "q")
        .select(col("q"), col("n_buckets"), col("n_touched"),
          col("rows_scanned"), col("rows_matching"),
          (col("rows_scanned").cast("double") / col("rows_total").cast("double"))
            .as("scan_fraction"))
        .orderBy("q")
    }),

    // DATE-PARTITION PRUNING AUDIT — z03's read-side arithmetic for the
    // OTHER layout mechanism: Hive/Delta-style month partitions of
    // orders, probed with four day-granular date-range predicates (the
    // z03 quartile grid in epoch-day space). A partition is read iff its
    // manifest [min_day, max_day] intersects the probe range, so the
    // partial months at each range edge are scanned-but-not-matching —
    // exactly the partition-granularity false-positive cost a
    // finer-than-partition predicate pays, quantified. Manifest-sized
    // work (80 partition rows × 4 probes) + one exact pass for ground
    // truth; all integers + one division ⇒ exact gate.
    "z04_partition_pruning" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).as("day"))
      val bounds = o.agg(min("day").as("d0"), max("day").as("d1"))
      val probes = bounds
        .select(explode(expr("sequence(0L, 3L)")).as("q"), col("d0"), col("d1"))
        .select(col("q"),
          expr("d0 + (d1 - d0 + 1) * q div 4").as("lo_d"),
          expr("d0 + (d1 - d0 + 1) * (q + 1) div 4 - 1").as("hi_d"))
      val manifest = o.groupBy("month")
        .agg(count(lit(1)).as("n"), min("day").as("min_day"), max("day").as("max_day"))
      val touched = manifest.crossJoin(broadcast(probes))
        .groupBy("q")
        .agg(count(lit(1)).as("n_partitions"),
          sum(when(col("min_day") <= col("hi_d") && col("max_day") >= col("lo_d"), 1L)
            .otherwise(0L)).as("n_read"),
          sum(when(col("min_day") <= col("hi_d") && col("max_day") >= col("lo_d"), col("n"))
            .otherwise(0L)).as("rows_scanned"))
      val exact = o.crossJoin(broadcast(probes))
        .groupBy("q")
        .agg(count(when(col("day").between(col("lo_d"), col("hi_d")), 1)).as("rows_matching"),
          count(lit(1)).as("rows_total"))
      touched.join(exact, "q")
        .select(col("q"), col("n_partitions"), col("n_read"),
          col("rows_scanned"), col("rows_matching"),
          (col("rows_scanned").cast("double") / col("rows_total").cast("double"))
            .as("scan_fraction"))
        .orderBy("q")
    }),

    // CLUSTERING-DEPTH AUDIT — the metric a table service watches to
    // decide WHEN to re-cluster (z01 decides how to sort, z05 measures
    // how far the live layout has drifted from it): for each file,
    // depth = how many files' [min,max] clustering-key ranges overlap
    // its own (self included). A perfectly clustered table has depth 1
    // everywhere; an arrival-ordered table has depth ≈ n_files (every
    // file spans the whole key domain). Both layouts are modeled
    // deterministically from the same rows — file-by-arrival =
    // orderkey range-bucket, file-by-key = partkey range-bucket, 64
    // files each — and the depth math runs on the MANIFEST (≤128 range
    // rows), never the data: the same metadata-sized discipline as
    // z02/z03/z04. All integers + one division ⇒ exact gate.
    "z05_overlap_depth" -> ((s, dir) =>
      overlapDepth(Tables.lineitem(s, dir).select("l_orderkey", "l_partkey"))),

    // BLOOM-FILTER SKIPPING AUDIT — the data-skipping mechanism for
    // EQUALITY probes on a non-clustering key, where zone maps are
    // useless by construction: an arrival-ordered layout gives every
    // file a partkey [min,max] spanning the whole domain (z05's depth ≈
    // n_files regime), so a point lookup touches every file unless a
    // per-file Bloom filter says otherwise. Files are modeled as 64
    // orderkey range-buckets (arrival order); each file's filter is the
    // SET of occupied bit positions in a 2^14-bit space, two positions
    // per distinct key from one xxhash64 (the relational encoding of the
    // bitset an engine would ship in its manifest — identical
    // semantics, and it keeps every step an integer join the oracle
    // restates CTE-for-CTE via the DuckHash chain). 8 probe keys are
    // grid-snapped to EXISTING partkeys (max key ≤ gridpoint), so every
    // probe has ≥ 1 truly-containing file and the no-false-negative law
    // is observable. Output per probe: files passing the filter vs
    // files truly containing the key (the gap = false-positive cost),
    // rows scanned, and the skip fraction a scan planner would realize.
    // Scale shape: two scans (file model + hash) plus joins keyed on
    // bit positions — the bloom manifest is ≤ files · 2^14 rows,
    // metadata-sized at any table size.
    "z06_bloom_skipping" -> ((s, dir) =>
      bloomSkipping(Tables.lineitem(s, dir).select("l_orderkey", "l_partkey"))),

    // CLUSTERING-KEY ADVISOR — z03 audits what ONE layout buys; z07
    // answers the question a table owner actually asks: WHICH layout?
    // Three candidate layouts of the same rows into 256 "files" —
    // arrival order (orderkey range-bucket: what you get by doing
    // nothing), single-key sort (partkey range-bucket), and the z01
    // Morton interleave — each producing per-file (min, max) zone maps,
    // all probed with z03's four diagonal quartile boxes. Output: one
    // row per (probe, layout) with rows_scanned vs the exact match, and
    // is_best marking the per-probe winner (fewest rows scanned, ties
    // to layout name ASC). On the 2-D workload the advisor's expected
    // reading: z-order wins the boxes, pksort wins nothing 2-D unless
    // the box spans all suppkeys, arrival reads ~everything. All
    // integer zone/probe arithmetic + one IEEE division ⇒ exact gate.
    // Scale shape: ONE row scan grades all three layouts (stack
    // generator — no re-reads), one 3×256-row zone agg, and every probe
    // evaluation is manifest-sized; the advisor costs one pass no
    // matter how many layouts compete.
    "z07_layout_advisor" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_partkey", "l_suppkey")
      // 1-row frame referenced three times (grading, probes, and via
      // probes the exact pass) — materialized so the bound agg scans
      // lineitem ONCE, not once per reference
      val bounds = graft.Materialize(li.agg(
        min("l_orderkey").as("ok0"), max("l_orderkey").as("ok1"),
        min("l_partkey").as("pk0"), max("l_partkey").as("pk1"),
        min("l_suppkey").as("sk0"), max("l_suppkey").as("sk1")))
      val graded = li.crossJoin(broadcast(bounds))
        .withColumn("xb", expr("(l_partkey - pk0) * 65536 div (pk1 - pk0 + 1)"))
        .withColumn("yb", expr("(l_suppkey - sk0) * 65536 div (sk1 - sk0 + 1)"))
        .select(col("l_partkey"), col("l_suppkey"),
          expr("(l_orderkey - ok0) * 256 div (ok1 - ok0 + 1)").as("b_arrival"),
          expr("(l_partkey - pk0) * 256 div (pk1 - pk0 + 1)").as("b_pksort"),
          expr(s"(${zExpr("xb", "yb")}) div $ZBucketDiv").as("b_zorder"))
      val zm = graded
        .select(expr("stack(3, 'arrival', b_arrival, 'pksort', b_pksort, " +
          "'zorder', b_zorder) AS (layout, bucket)"),
          col("l_partkey"), col("l_suppkey"))
        .groupBy("layout", "bucket")
        .agg(count(lit(1)).as("n"),
          min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"),
          min("l_suppkey").as("min_sk"), max("l_suppkey").as("max_sk"))
      val wQ = Window.partitionBy("q")
        .orderBy(col("rows_scanned").asc, col("layout").asc)
      quartileProbes(zm, bounds, li, "layout", "q")
        .withColumn("is_best", row_number().over(wQ) === 1)
        .select(col("q"), col("layout"), col("n_buckets"), col("n_touched"),
          col("rows_scanned"), col("rows_matching"),
          (col("rows_scanned").cast("double") / col("rows_total").cast("double"))
            .as("scan_fraction"),
          col("is_best"))
        .orderBy("q", "layout")
    })
  )

  /** z03/z07 shared core: the four diagonal quartile boxes of `bounds`'
    * (partkey, suppkey) grid, stated in integer grid arithmetic; the zone
    * buckets and rows each box reads per `keys` group of `zones`; joined
    * on `q` to the exact rows of `li` each box matches.
    */
  private def quartileProbes(zones: DataFrame, bounds: DataFrame, li: DataFrame,
      keys: String*): DataFrame = {
    val probes = bounds
      .select(explode(expr("sequence(0L, 3L)")).as("q"),
        col("pk0"), col("pk1"), col("sk0"), col("sk1"))
      .select(col("q"),
        expr("pk0 + (pk1 - pk0 + 1) * q div 4").as("lo_pk"),
        expr("pk0 + (pk1 - pk0 + 1) * (q + 1) div 4 - 1").as("hi_pk"),
        expr("sk0 + (sk1 - sk0 + 1) * q div 4").as("lo_sk"),
        expr("sk0 + (sk1 - sk0 + 1) * (q + 1) div 4 - 1").as("hi_sk"))
    val hit = col("min_pk") <= col("hi_pk") && col("max_pk") >= col("lo_pk") &&
      col("min_sk") <= col("hi_sk") && col("max_sk") >= col("lo_sk")
    val touched = zones.crossJoin(broadcast(probes))
      .groupBy(keys.head, keys.tail: _*)
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(hit, 1L).otherwise(0L)).as("n_touched"),
        sum(when(hit, col("n")).otherwise(0L)).as("rows_scanned"))
    val exact = li.crossJoin(broadcast(probes))
      .groupBy("q")
      .agg(count(when(col("l_partkey").between(col("lo_pk"), col("hi_pk")) &&
        col("l_suppkey").between(col("lo_sk"), col("hi_sk")), 1))
        .as("rows_matching"),
        count(lit(1)).as("rows_total"))
    touched.join(exact, "q")
  }

  /** z01/z03 shared core: per-z-bucket zone maps (row count + min/max of
    * both clustering keys) over the Morton-bucketed lineitem keys.
    */
  private def zoneMaps(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select("l_partkey", "l_suppkey")
    val bounds = li.agg(
      min("l_partkey").as("pk0"), max("l_partkey").as("pk1"),
      min("l_suppkey").as("sk0"), max("l_suppkey").as("sk1"))
    li.crossJoin(broadcast(bounds))
      .withColumn("xb", expr("(l_partkey - pk0) * 65536 div (pk1 - pk0 + 1)"))
      .withColumn("yb", expr("(l_suppkey - sk0) * 65536 div (sk1 - sk0 + 1)"))
      .withColumn("zval", expr(zExpr("xb", "yb")))
      .withColumn("bucket", expr(s"zval div $ZBucketDiv"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"),
        min("l_suppkey").as("min_sk"), max("l_suppkey").as("max_sk"))
  }

  /** z05 core over any (l_orderkey, l_partkey) frame — extracted so the
    * layout extremes (perfectly clustered ⇒ depth ≈ 1; scattered ⇒
    * depth ≈ n_files) are property-testable on crafted key mappings. */
  private[operators] def overlapDepth(li: DataFrame): DataFrame = {
      val bounds = li.agg(min("l_orderkey").as("ok0"), max("l_orderkey").as("ok1"),
        min("l_partkey").as("pk0"), max("l_partkey").as("pk1"))
      val assigned = li.crossJoin(broadcast(bounds))
        .select(
          expr("(l_orderkey - ok0) * 64 div (ok1 - ok0 + 1)").as("file_arrival"),
          expr("(l_partkey - pk0) * 64 div (pk1 - pk0 + 1)").as("file_sorted"),
          col("l_partkey"))
      def manifest(fileCol: String, tag: String) =
        assigned.groupBy(col(fileCol).as("f"))
          .agg(min("l_partkey").as("lo"), max("l_partkey").as("hi"))
          .select(lit(tag).as("layout"), col("f"), col("lo"), col("hi"))
      val m = manifest("file_arrival", "arrival")
        .unionByName(manifest("file_sorted", "sorted"))
      val depth = m.as("a").join(m.as("b"),
          col("a.layout") === col("b.layout") &&
            col("a.lo") <= col("b.hi") && col("a.hi") >= col("b.lo"))
        .groupBy(col("a.layout").as("layout"), col("a.f").as("f"))
        .agg(count(lit(1)).as("depth"))
      depth.groupBy("layout")
        .agg(count(lit(1)).as("n_files"),
          sum("depth").as("total_overlaps"),
          max("depth").as("max_depth"))
        .select(col("layout"), col("n_files"), col("total_overlaps"), col("max_depth"),
          (col("total_overlaps").cast("double") / col("n_files").cast("double")).as("avg_depth"))
        .orderBy("layout")
    }

  /** z06 bloom geometry: bit-space size (2^14) and file count. Two bit
    * positions per key from one xxhash64: b1 = h mod 2^14,
    * b2 = (h mod 2^28) div 2^14 — the pmod-BEFORE-div order matters
    * (Spark `div` truncates toward zero, DuckDB `//` floors; they agree
    * only on non-negative operands).
    */
  val BloomBits = 16384L
  val BloomFiles = 64L

  /** z06 core over any (l_orderkey, l_partkey) frame — see the catalog
    * entry. Extracted so the two layout extremes are property-testable:
    * a single key everywhere ⇒ every file both passes and contains
    * (skip 0, false positives 0); one key per file ⇒ containment is 1
    * file and the bloom may only ADD files (no false negatives, the
    * Bloom guarantee).
    */
  private[operators] def bloomSkipping(li: DataFrame): DataFrame = {
    val bounds = li.agg(min("l_orderkey").as("o0"), max("l_orderkey").as("o1"),
      min("l_partkey").as("p0"), max("l_partkey").as("p1"))
    val filed = li.crossJoin(broadcast(bounds))
      .select(expr(s"(l_orderkey - o0) * $BloomFiles div (o1 - o0 + 1)").as("file"),
        col("l_partkey").as("pk"))
    val fsz = filed.groupBy("file").agg(count(lit(1)).as("n"))
    val fpk = filed.select("file", "pk").distinct()
    val bits = fpk.select("pk").distinct()
      .withColumn("h", pmod(xxhash64(col("pk")), lit(BloomBits * BloomBits)))
      .select(col("pk"), pmod(col("h"), lit(BloomBits)).as("b1"),
        expr(s"h div $BloomBits").as("b2"))
    val bloom = fpk.join(bits, "pk")
      .select(col("file"), explode(array(col("b1"), col("b2"))).as("bit"))
      .distinct()
    val grid = bounds.select(explode(expr("sequence(0L, 7L)")).as("q"),
        col("p0"), col("p1"))
      .select(col("q"), expr("p0 + (p1 - p0 + 1) * q div 8").as("gp"))
    val probes = bits.select("pk").crossJoin(broadcast(grid))
      .filter(col("pk") <= col("gp"))
      .groupBy("q").agg(max("pk").as("key"))
    val pb = probes.join(bits, probes("key") === bits("pk"))
      .select(col("q"), col("key"), col("b1"), col("b2"))
    val pass = pb
      .join(bloom.as("x"), col("x.bit") === col("b1"))
      .select(col("q"), col("key"), col("x.file").as("pf"), col("b2"))
      .join(bloom.as("y"), col("y.bit") === col("b2") && col("y.file") === col("pf"))
      .select("q", "key", "pf").distinct()
    val passStats = pass.join(fsz, col("pf") === fsz("file"))
      .groupBy("q", "key")
      .agg(count(lit(1)).as("n_pass"), sum("n").as("rows_scanned"))
    val contain = probes.join(fpk, probes("key") === fpk("pk"))
      .groupBy("q").agg(count(lit(1)).as("n_containing"))
    val totals = fsz.agg(count(lit(1)).as("n_files"), sum("n").as("rows_total"))
    passStats.join(contain, "q").crossJoin(broadcast(totals))
      .select(col("q"), col("key"), col("n_files"), col("n_pass"),
        col("n_containing"),
        (col("n_pass") - col("n_containing")).as("n_false_pos"),
        col("rows_scanned"),
        (lit(1.0) - col("rows_scanned").cast("double") /
          col("rows_total").cast("double")).as("skip_fraction"))
      .orderBy("q")
  }

  /** z01's key scaling: `bounds` the part/supplier key ranges, `scaled`
    * every lineitem with both keys scaled to 16 bits (`xb`, `yb`).
    */
  private val duckScaledCtes: String =
    """bounds AS (
      |  SELECT MIN(l_partkey) AS pk0, MAX(l_partkey) AS pk1,
      |         MIN(l_suppkey) AS sk0, MAX(l_suppkey) AS sk1
      |  FROM lineitem
      |), scaled AS (
      |  SELECT l_partkey, l_suppkey,
      |    (l_partkey - pk0) * 65536 // (pk1 - pk0 + 1) AS xb,
      |    (l_suppkey - sk0) * 65536 // (sk1 - sk0 + 1) AS yb
      |  FROM lineitem CROSS JOIN bounds
      |)""".stripMargin

  /** z03's zone-skipping audit over `zones(<keys>, bucket, n, min/max
    * keys)` and `bounds`: `probes` the four quarter-range boxes,
    * `touched` the buckets and rows each probe reads per `keys` group,
    * `exact(q, rows_matching, rows_total)` the true match counts.
    */
  private def duckProbeCtes(keys: String): String =
    s"""probes AS (
       |  SELECT q,
       |    pk0 + (pk1 - pk0 + 1) * q // 4 AS lo_pk,
       |    pk0 + (pk1 - pk0 + 1) * (q + 1) // 4 - 1 AS hi_pk,
       |    sk0 + (sk1 - sk0 + 1) * q // 4 AS lo_sk,
       |    sk0 + (sk1 - sk0 + 1) * (q + 1) // 4 - 1 AS hi_sk
       |  FROM bounds, unnest(range(0, 4)) AS t(q)
       |), touched AS (
       |  SELECT $keys, COUNT(*) AS n_buckets,
       |    CAST(SUM(CASE WHEN min_pk <= hi_pk AND max_pk >= lo_pk
       |               AND min_sk <= hi_sk AND max_sk >= lo_sk THEN 1 ELSE 0 END) AS BIGINT) AS n_touched,
       |    CAST(SUM(CASE WHEN min_pk <= hi_pk AND max_pk >= lo_pk
       |               AND min_sk <= hi_sk AND max_sk >= lo_sk THEN n ELSE 0 END) AS BIGINT) AS rows_scanned
       |  FROM zones CROSS JOIN probes
       |  GROUP BY $keys
       |), exact AS (
       |  SELECT q,
       |    COUNT(CASE WHEN l_partkey BETWEEN lo_pk AND hi_pk
       |               AND l_suppkey BETWEEN lo_sk AND hi_sk THEN 1 END) AS rows_matching,
       |    COUNT(*) AS rows_total
       |  FROM lineitem CROSS JOIN probes
       |  GROUP BY q
       |)""".stripMargin

  def oracles: Map[String, String] = Map(
    // the whole bloom pipeline restated: DuckHash chain for xxhash64 of
    // the key, the same pmod-before-div bit split, the same relational
    // bitset; SUMs cast back to BIGINT (dtype-strict rule)
    "z06_bloom_skipping" -> {
      val bb2 = BloomBits * BloomBits
      s"""WITH li AS (
         |  SELECT l_orderkey, l_partkey FROM lineitem
         |), b AS (
         |  SELECT MIN(l_orderkey) AS o0, MAX(l_orderkey) AS o1,
         |    MIN(l_partkey) AS p0, MAX(l_partkey) AS p1 FROM li
         |), ids AS (
         |  SELECT DISTINCT l_partkey AS pk, l_partkey AS x FROM li
         |), ${DuckHash.xxhash64LongCtes("pk")}, bits AS (
         |  SELECT pk,
         |    CAST(((hv % $bb2) + $bb2) % $bb2 % $BloomBits AS BIGINT) AS b1,
         |    CAST(((hv % $bb2) + $bb2) % $bb2 // $BloomBits AS BIGINT) AS b2
         |  FROM hashed
         |), filed AS (
         |  SELECT (l_orderkey - o0) * $BloomFiles // (o1 - o0 + 1) AS file,
         |    l_partkey AS pk
         |  FROM li CROSS JOIN b
         |), fsz AS (
         |  SELECT file, COUNT(*) AS n FROM filed GROUP BY file
         |), fpk AS (
         |  SELECT DISTINCT file, pk FROM filed
         |), bloom AS (
         |  SELECT DISTINCT file, bit FROM (
         |    SELECT f.file, t.b1 AS bit FROM fpk f JOIN bits t USING (pk)
         |    UNION ALL
         |    SELECT f.file, t.b2 AS bit FROM fpk f JOIN bits t USING (pk))
         |), grid AS (
         |  SELECT q, p0 + (p1 - p0 + 1) * q // 8 AS gp
         |  FROM (SELECT unnest(range(0, 8)) AS q) CROSS JOIN b
         |), probes AS (
         |  SELECT g.q, MAX(t.pk) AS key
         |  FROM grid g JOIN bits t ON t.pk <= g.gp
         |  GROUP BY g.q
         |), pb AS (
         |  SELECT p.q, p.key, t.b1, t.b2 FROM probes p JOIN bits t ON t.pk = p.key
         |), pass AS (
         |  SELECT DISTINCT pb.q, pb.key, x.file
         |  FROM pb
         |  JOIN bloom x ON x.bit = pb.b1
         |  JOIN bloom y ON y.bit = pb.b2 AND y.file = x.file
         |), ps AS (
         |  SELECT q, key, COUNT(*) AS n_pass, CAST(SUM(s.n) AS BIGINT) AS rows_scanned
         |  FROM pass JOIN fsz s USING (file) GROUP BY q, key
         |), ct AS (
         |  SELECT p.q, COUNT(*) AS n_containing
         |  FROM probes p JOIN fpk f ON f.pk = p.key GROUP BY p.q
         |), tot AS (
         |  SELECT COUNT(*) AS n_files, CAST(SUM(n) AS BIGINT) AS rows_total FROM fsz
         |)
         |SELECT ps.q, ps.key, tot.n_files, ps.n_pass, ct.n_containing,
         |  ps.n_pass - ct.n_containing AS n_false_pos, ps.rows_scanned,
         |  1.0 - CAST(ps.rows_scanned AS DOUBLE) / CAST(rows_total AS DOUBLE) AS skip_fraction
         |FROM ps JOIN ct USING (q) CROSS JOIN tot
         |ORDER BY ps.q""".stripMargin
    },

    // z03's zone/probe arithmetic over the three-layout UNION; the
    // winner restated as the same (rows_scanned, layout) ROW_NUMBER
    "z07_layout_advisor" -> {
      val z = zExpr("xb", "yb")
      s"""WITH bounds AS (
         |  SELECT MIN(l_orderkey) AS ok0, MAX(l_orderkey) AS ok1,
         |         MIN(l_partkey) AS pk0, MAX(l_partkey) AS pk1,
         |         MIN(l_suppkey) AS sk0, MAX(l_suppkey) AS sk1
         |  FROM lineitem
         |), g AS (
         |  SELECT l_partkey, l_suppkey,
         |    (l_orderkey - ok0) * 256 // (ok1 - ok0 + 1) AS b_arrival,
         |    (l_partkey - pk0) * 256 // (pk1 - pk0 + 1) AS b_pksort,
         |    (l_partkey - pk0) * 65536 // (pk1 - pk0 + 1) AS xb,
         |    (l_suppkey - sk0) * 65536 // (sk1 - sk0 + 1) AS yb
         |  FROM lineitem CROSS JOIN bounds
         |), lb AS (
         |  SELECT 'arrival' AS layout, b_arrival AS bucket, l_partkey, l_suppkey FROM g
         |  UNION ALL
         |  SELECT 'pksort', b_pksort, l_partkey, l_suppkey FROM g
         |  UNION ALL
         |  SELECT 'zorder', ($z) // $ZBucketDiv, l_partkey, l_suppkey FROM g
         |), zones AS (
         |  SELECT layout, bucket, COUNT(*) AS n,
         |    MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
         |    MIN(l_suppkey) AS min_sk, MAX(l_suppkey) AS max_sk
         |  FROM lb GROUP BY layout, bucket
         |), ${duckProbeCtes("layout, q")}, ranked AS (
         |  SELECT t.q, t.layout, t.n_buckets, t.n_touched, t.rows_scanned,
         |    e.rows_matching,
         |    t.rows_scanned::DOUBLE / e.rows_total::DOUBLE AS scan_fraction,
         |    ROW_NUMBER() OVER (PARTITION BY t.q
         |      ORDER BY t.rows_scanned ASC, t.layout ASC) AS rk
         |  FROM touched t JOIN exact e ON e.q = t.q
         |)
         |SELECT q, layout, n_buckets, n_touched, rows_scanned, rows_matching,
         |  scan_fraction, rk = 1 AS is_best
         |FROM ranked
         |ORDER BY q, layout""".stripMargin
    },

    // the same range-bucket file models and the manifest-sized interval
    // self-join, restated; SUM cast (dtype-strict rule)
    "z05_overlap_depth" ->
      """WITH b AS (
        |  SELECT MIN(l_orderkey) AS ok0, MAX(l_orderkey) AS ok1,
        |    MIN(l_partkey) AS pk0, MAX(l_partkey) AS pk1
        |  FROM lineitem
        |), a AS (
        |  SELECT (l_orderkey - ok0) * 64 // (ok1 - ok0 + 1) AS fa,
        |         (l_partkey - pk0) * 64 // (pk1 - pk0 + 1) AS fs,
        |         l_partkey
        |  FROM lineitem, b
        |), m AS (
        |  SELECT 'arrival' AS layout, fa AS f, MIN(l_partkey) AS lo, MAX(l_partkey) AS hi
        |  FROM a GROUP BY fa
        |  UNION ALL
        |  SELECT 'sorted', fs, MIN(l_partkey), MAX(l_partkey) FROM a GROUP BY fs
        |), d AS (
        |  SELECT x.layout, x.f, COUNT(*) AS depth
        |  FROM m x JOIN m y ON x.layout = y.layout AND x.lo <= y.hi AND x.hi >= y.lo
        |  GROUP BY x.layout, x.f
        |)
        |SELECT layout, COUNT(*) AS n_files,
        |  CAST(SUM(depth) AS BIGINT) AS total_overlaps,
        |  MAX(depth) AS max_depth,
        |  CAST(SUM(depth) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_depth
        |FROM d GROUP BY layout ORDER BY layout""".stripMargin,

    "z02_compaction_plan" ->
      s"""WITH files AS (
         |  SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
         |    l_returnflag, COUNT(*) AS size_rows
         |  FROM lineitem
         |  GROUP BY 1, 2
         |), planned AS (
         |  SELECT ship_month, l_returnflag, size_rows,
         |    SUM(size_rows) OVER (PARTITION BY ship_month
         |      ORDER BY size_rows DESC, l_returnflag ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - size_rows AS cum_before
         |  FROM files
         |)
         |-- CAST: DuckDB's windowed SUM(BIGINT) is HUGEINT, so // stays HUGEINT
         |-- (DECIMAL(38,0) in the comparison); Spark's div is int64.
         |SELECT ship_month, l_returnflag, size_rows,
         |  CAST(cum_before // $CompactTargetRows AS BIGINT) AS bin
         |FROM planned
         |ORDER BY ship_month, l_returnflag""".stripMargin,

    "z01_zorder_layout" -> {
      val z = zExpr("xb", "yb")
      s"""WITH $duckScaledCtes, z AS (
         |  SELECT l_partkey, l_suppkey, ($z) AS zval FROM scaled
         |), b AS (
         |  SELECT l_partkey, l_suppkey, zval // $ZBucketDiv AS bucket FROM z
         |)
         |SELECT bucket, COUNT(*) AS n,
         |  MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
         |  MAX(l_partkey) - MIN(l_partkey) AS range_pk,
         |  MIN(l_suppkey) AS min_sk, MAX(l_suppkey) AS max_sk,
         |  MAX(l_suppkey) - MIN(l_suppkey) AS range_sk
         |FROM b GROUP BY bucket
         |ORDER BY bucket""".stripMargin
    },

    "z03_zone_skipping" -> {
      val z = zExpr("xb", "yb")
      s"""WITH $duckScaledCtes, b AS (
         |  SELECT l_partkey, l_suppkey, ($z) // $ZBucketDiv AS bucket FROM scaled
         |), zones AS (
         |  SELECT bucket, COUNT(*) AS n,
         |    MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
         |    MIN(l_suppkey) AS min_sk, MAX(l_suppkey) AS max_sk
         |  FROM b GROUP BY bucket
         |), ${duckProbeCtes("q")}
         |SELECT t.q, n_buckets, n_touched, rows_scanned, rows_matching,
         |  rows_scanned::DOUBLE / rows_total::DOUBLE AS scan_fraction
         |FROM touched t JOIN exact e ON e.q = t.q
         |ORDER BY t.q""".stripMargin
    },

    "z04_partition_pruning" ->
      """WITH o AS (
        |  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
        |    date_diff('day', DATE '1970-01-01', o_orderdate) AS day
        |  FROM orders
        |), bounds AS (
        |  SELECT MIN(day) AS d0, MAX(day) AS d1 FROM o
        |), probes AS (
        |  SELECT q, d0 + (d1 - d0 + 1) * q // 4 AS lo_d,
        |    d0 + (d1 - d0 + 1) * (q + 1) // 4 - 1 AS hi_d
        |  FROM bounds, unnest(range(0, 4)) AS t(q)
        |), manifest AS (
        |  SELECT month, COUNT(*) AS n, MIN(day) AS min_day, MAX(day) AS max_day
        |  FROM o GROUP BY month
        |), touched AS (
        |  SELECT q, COUNT(*) AS n_partitions,
        |    CAST(SUM(CASE WHEN min_day <= hi_d AND max_day >= lo_d THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_read,
        |    CAST(SUM(CASE WHEN min_day <= hi_d AND max_day >= lo_d THEN n ELSE 0 END) AS BIGINT)
        |      AS rows_scanned
        |  FROM manifest CROSS JOIN probes
        |  GROUP BY q
        |), exact AS (
        |  SELECT q, COUNT(CASE WHEN day BETWEEN lo_d AND hi_d THEN 1 END) AS rows_matching,
        |    COUNT(*) AS rows_total
        |  FROM o CROSS JOIN probes
        |  GROUP BY q
        |)
        |SELECT CAST(t.q AS BIGINT) AS q, n_partitions, n_read, rows_scanned, rows_matching,
        |  rows_scanned::DOUBLE / rows_total::DOUBLE AS scan_fraction
        |FROM touched t JOIN exact e ON e.q = t.q
        |ORDER BY q""".stripMargin
  )
}
