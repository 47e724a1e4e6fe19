package graft.operators

import graft.SparkSpec

/** Closed-form graphs pin the triangle/pagerank semantics the oracle gate
  * exercises only on the (unknown-answer) fixture graph, plus a
  * brute-force cross-check of the degree-oriented counting.
  */
class GraphSpec extends SparkSpec {

  import org.apache.spark.sql.DataFrame

  private def edges(pairs: (Long, Long)*): DataFrame = {
    import spark.implicits._
    pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("u", "v")
  }

  // the shared derivations, applied as the catalog's fixtures apply them
  private def wd(e: DataFrame): DataFrame = Graph.degEdges(e, Graph.degrees(e))
  private def tris(e: DataFrame): DataFrame = Graph.triangles(wd(e))
  private def msgs(e: DataFrame): DataFrame = Graph.directedMsgs(e, Graph.degrees(e))
  private def verts(e: DataFrame): DataFrame = Graph.degrees(e).select("x")
  private def sup(e: DataFrame): DataFrame = Graph.support(e, tris(e))

  private def triCount(e: DataFrame): Long =
    Graph.triangleStats(wd(e), tris(e)).collect()(0).getAs[Long]("n_triangles")

  test("g01 closed forms: K4 = 4, C4 = 0, shared-edge pair = 2, star = 0") {
    // K4 (complete graph on 4 vertices): C(4,3) = 4 triangles
    assert(triCount(edges((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))) === 4L)
    // C4 (square, no diagonals): 0
    assert(triCount(edges((1, 2), (2, 3), (3, 4), (4, 1))) === 0L)
    // two triangles sharing edge (1,2)
    assert(triCount(edges((1, 2), (1, 3), (2, 3), (1, 4), (2, 4))) === 2L)
    // star K1,4: wedges but never a closure
    assert(triCount(edges((1, 2), (1, 3), (1, 4), (1, 5))) === 0L)
  }

  test("g01 equals brute-force triple enumeration on a messy graph") {
    // deterministic pseudo-random graph with hubs (uneven degrees so the
    // orientation logic actually reorders edges)
    val pairs = (1 to 120).map { i =>
      val a = (i * 7919L) % 23
      val b = (i * 104729L) % 23
      (a, b)
    }.filter { case (a, b) => a != b }
    val e = edges(pairs: _*)

    val es = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vs = es.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    var brute = 0L
    for {
      i <- vs.indices; j <- (i + 1) until vs.length; k <- (j + 1) until vs.length
      if es((vs(i), vs(j))) && es((vs(j), vs(k))) && es((vs(i), vs(k)))
    } brute += 1
    assert(triCount(e) === brute, "degree-oriented count must equal brute force")
  }

  test("g01 clustering coefficient: K4 is fully transitive (coeff = 1.0)") {
    val k4 = edges((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))
    val r = Graph.triangleStats(wd(k4), tris(k4)).collect()(0)
    assert(r.getAs[Double]("clustering_coeff") === 1.0)
    assert(r.getAs[Long]("n_wedges") === 12L) // 4 vertices × C(3,2)
  }

  test("g02: star graph — hub collects leaf mass, leaves split the hub's") {
    // star 1-(2,3,4,5): deg(1)=4, deg(leaf)=1. rank(1) = 4 × RankScale;
    // rank(leaf) = RankScale/4.
    val got = Graph.pagerankStep(msgs(edges((1, 2), (1, 3), (1, 4), (1, 5))), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.head === ((1L, 4L, 4L * Graph.RankScale)), "hub first")
    assert(got.tail.forall(_._3 === Graph.RankScale / 4), "each leaf gets 1/deg(hub)")
    assert(got.tail.map(_._1).toSeq === Seq(2L, 3L, 4L, 5L), "ties break by id")
  }

  test("g02b closed form: 2-round damped profile on the 3-star, hand-computed") {
    // S = 1e12, base = 0.15S. Star 1-2, 1-3: deg(1)=2, leaves 1.
    // r1: hub 0.15S + 0.85·2S = 1.85e12; leaves 0.15S + 0.85·S/2 = 5.75e11
    //     move = 8.5e11 + 2·4.25e11 = 1.7e12; mass stays 3e12 (no floor loss)
    // r2: hub 0.15S + 85·(2·5.75e11) div 100 = 1.1275e12
    //     leaves 0.15S + 85·(1.85e12 div 2) div 100 = 9.3625e11
    //     move = 7.225e11 + 2·3.6125e11 = 1.445e12; mass 3e12
    val star = edges((1L, 2L), (1L, 3L))
    val got = Graph.pagerankProfile(msgs(star), Graph.degrees(star), rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got === Array(
      (1L, 1700000000000L, 1850000000000L, 575000000000L, 3000000000000L),
      (2L, 1445000000000L, 1127500000000L, 936250000000L, 3000000000000L)))
  }

  test("g02b: a vertex-transitive graph is its own fixed point — zero movement every round") {
    // on C4 every vertex has deg 2 and rank S: contribs S/2, damped sum
    // = 0.15S + 0.85S = S — the uniform state is stationary, so the
    // profile must show total_move = 0 at every round
    val c4 = edges((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    val got = Graph.pagerankProfile(msgs(c4), Graph.degrees(c4), rounds = 3).collect()
    assert(got.length === 3)
    got.foreach { r =>
      assert(r.getLong(1) === 0L, s"round ${r.getLong(0)} moved")
      assert(r.getLong(2) === Graph.RankScale && r.getLong(3) === Graph.RankScale)
    }
  }

  test("g06 closed forms: star is perfectly disassortative; cycle degenerate-regular") {
    // 3-star (hub 1): directed endpoints (3,1)x3 + (1,3)x3 → M=6,
    // Σx = 12, Σxy = 18, Σx² = 30 → r = (108-144)/(180-144) = -1
    def assort(e: DataFrame) = Graph.degreeAssortativity(msgs(e), Graph.degrees(e)).collect()(0)
    val star = assort(edges((1L, 2L), (1L, 3L), (1L, 4L)))
    assert((star.getLong(0), star.getLong(1), star.getLong(2), star.getLong(3))
      === ((6L, 12L, 18L, 30L)))
    assert(star.getDouble(4) === -1.0)
    // C4: all degrees 2 → zero degree variance → r undefined → NULL
    val c4 = assort(edges((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)))
    assert(c4.isNullAt(4))
  }

  test("g07 closed forms: K4 all-closed, C4 all-open, star hub-only, bimodal pair") {
    def hist(e: DataFrame): Seq[(Long, Long, Long)] =
      Graph.localClusteringHistogram(wd(e), tris(e)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // K4: every vertex closes all 3 of its wedges → bucket 10, 3 triangles each
    assert(hist(edges((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)))
      === Seq((10L, 4L, 12L)))
    // C4: deg 2 everywhere, zero triangles → all mass at bucket 0
    assert(hist(edges((1, 2), (2, 3), (3, 4), (4, 1))) === Seq((0L, 4L, 0L)))
    // star: only the hub has deg ≥ 2 (leaves are cc-undefined), 0 triangles
    assert(hist(edges((1, 2), (1, 3), (1, 4), (1, 5))) === Seq((0L, 1L, 0L)))
    // two triangles on shared edge (1,2): v1/v2 close 2 of 3 wedges
    // (bucket ⌊40/6⌋ = 6), v3/v4 are fully closed (bucket 10)
    assert(hist(edges((1, 2), (1, 3), (2, 3), (1, 4), (2, 4)))
      === Seq((6L, 2L, 4L), (10L, 2L, 2L)))
  }

  test("g07 bucket mass reconciles with g01's global triangle count") {
    val pairs = (1 to 120).map(i => ((i * 7919L) % 23, (i * 104729L) % 23))
      .filter { case (a, b) => a != b }
    val e = edges(pairs: _*)
    val sumT = Graph.localClusteringHistogram(wd(e), tris(e)).collect().map(_.getLong(2)).sum
    assert(sumT === 3L * triCount(e), "3 vertex credits per triangle")
  }

  test("g08 closed form: P4 min-label wavefront, hand-computed per round") {
    // path 1-2-3-4: labels [1,2,3,4] → [1,1,2,3] → [1,1,1,2] → [1,1,1,1]
    // changed: 3, 2, 1, then converged (round 4 synthesized: 0 moves)
    val p4 = edges((1, 2), (2, 3), (3, 4))
    val got = Graph.ccProfile(msgs(p4), verts(p4), rounds = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Array(
      (1L, 3L, 3L, 7L),
      (2L, 2L, 2L, 5L),
      (3L, 1L, 1L, 4L),
      (4L, 0L, 1L, 4L)))
  }

  test("g08: two components keep two labels forever; label_sum pins WHICH labels") {
    // triangle {1,2,3} + edge {10,11}: round 1 collapses both (changed
    // 2 + 1), labels {1, 10}, sum 1·3 + 10·2 = 23; then fixed point
    val e = edges((1, 2), (2, 3), (1, 3), (10, 11))
    val got = Graph.ccProfile(msgs(e), verts(e), rounds = 3).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Array(
      (1L, 3L, 2L, 23L),
      (2L, 0L, 2L, 23L),
      (3L, 0L, 2L, 23L)))
  }

  test("g03 closed forms: path levels from the max-degree root; star; disconnection") {
    // path 1-2-3-4-5: degrees (1,2,2,2,1) → root = 2 (max deg, min id).
    // levels: 0:{2}, 1:{1,3}, 2:{4}, 3:{5}
    val path = Graph.bfsLevels(edges((1, 2), (2, 3), (3, 4), (4, 5))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(path.toSeq === Seq((0L, 1L, 2L, 2L), (1L, 2L, 1L, 3L), (2L, 1L, 4L, 4L), (3L, 1L, 5L, 5L)))

    // star: hub is root, all leaves level 1
    val star = Graph.bfsLevels(edges((1, 2), (1, 3), (1, 4), (1, 5))).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(star.toSeq === Seq((0L, 1L), (1L, 4L)))

    // disconnected component {8,9} is simply absent from the root's tree
    val disc = Graph.bfsLevels(edges((1, 2), (1, 3), (8, 9))).collect()
    assert(disc.map(_.getLong(1)).sum === 3L, "only the root's component is reached")
  }

  test("bfsLevels on an empty edge frame fails with the empty-input message") {
    val e = intercept[IllegalArgumentException](Graph.bfsLevels(edges()))
    assert(e.getMessage.contains("bfsLevels: empty edge input — no root to pick"), e.getMessage)
  }

  test("g03 throws past the round cap instead of truncating levels") {
    // a 6-path needs 5 rounds from its end... root = max-degree so use a
    // lollipop: triangle at one end forces the root into the triangle,
    // leaving a 4-deep tail; cap 2 must throw, cap 10 must succeed
    val lolli = edges((1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7))
    assertThrows[IllegalStateException](Graph.bfsLevels(lolli, maxRounds = 2))
    assert(Graph.bfsLevels(lolli, maxRounds = 10).count() === 5)
  }

  test("g05 closed form: K4 + pendant tail peels the tail, keeps the clique") {
    // K4 on {1,2,3,4} + tail 4-5-6: V=6, E=8, mean deg 16/6 = 2.67 →
    // k = 2 + 1 = 3. Round 1 removes {5 (deg 2), 6 (deg 1)}; the K4
    // survives (all deg 3) and every later round is an explicit no-op
    // row with the surviving counts carried forward.
    val e = edges((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6))
    val prof = Graph.kCorePeel(e, Graph.degrees(e), rounds = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(prof.toSeq === Seq(
      (1L, 3L, 2L, 4L, 6L),
      (2L, 3L, 0L, 4L, 6L),
      (3L, 3L, 0L, 4L, 6L),
      (4L, 3L, 0L, 4L, 6L)))
  }

  test("g05 closed form: a regular ring collapses entirely once k exceeds its degree") {
    // C5 ring: every degree 2, mean 2 → k = 3 → round 1 removes ALL
    // five vertices; later rounds are no-ops on the empty graph
    val c5 = edges((1, 2), (2, 3), (3, 4), (4, 5), (5, 1))
    val prof = Graph.kCorePeel(c5, Graph.degrees(c5), rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(prof.toSeq === Seq((1L, 5L, 0L, 0L), (2L, 0L, 0L, 0L), (3L, 0L, 0L, 0L)))
  }

  test("g09 closed forms: star splits hub/leaves into their log-degree buckets; K4 is one regular bucket") {
    // S4 star: hub deg 4 (bucket 2), 4 leaves deg 1 (bucket 0); 2m = 8
    val star = Graph.degreeSpectrum(Graph.degrees(edges((0, 1), (0, 2), (0, 3), (0, 4)))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(star.toSeq === Seq(
      (0L, 4L, 4L, 1L, 1L, 0.8, 0.5),
      (2L, 1L, 4L, 4L, 4L, 0.2, 0.5)))
    // K4: every degree 3 → a single bucket holding all vertices and mass
    val k4 = Graph.degreeSpectrum(
        Graph.degrees(edges((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5), r.getDouble(6)))
    assert(k4.toSeq === Seq((1L, 4L, 12L, 1.0, 1.0)))
  }

  test("g10 closed form: baskets 1,2,2,5 put 5/6 of the pair mass in the top bucket") {
    import spark.implicits._
    // one duplicate (ok, pk) row exercises the distinct
    val li = Seq(
      (1L, 10L),
      (2L, 10L), (2L, 11L),
      (3L, 12L), (3L, 13L),
      (4L, 20L), (4L, 21L), (4L, 22L), (4L, 23L), (4L, 24L), (4L, 24L)
    ).toDF("ok", "pk")
    val got = Graph.projectionCostAudit(li).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.toSeq === Seq(
      (0L, 1L, 1L, 0L, 1L, 0.0),
      (1L, 2L, 4L, 2L, 2L, 1.0 / 6.0),
      (2L, 1L, 5L, 10L, 5L, 5.0 / 6.0)))
  }

  test("g04 closed forms: K4 edges all 0.5; triangle edges 1/3; path edge 0") {
    // K4: every edge has the other 2 vertices as common neighbors,
    // deg = 3 each → jacc = 2 / (3 + 3 − 2) = 0.5
    def jacc(e: DataFrame, topK: Int) = Graph.edgeJaccard(wd(e), sup(e), topK).collect()
    val k4 = jacc(edges((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)), 100)
    assert(k4.length === 6)
    assert(k4.forall(r => r.getAs[Long]("common_nbrs") === 2L &&
      r.getAs[Double]("jaccard") === 0.5))
    // triangle: common = 1, jacc = 1 / (2 + 2 − 1) = 1/3
    val c3 = jacc(edges((1, 2), (2, 3), (1, 3)), 100)
    assert(c3.forall(r => r.getAs[Double]("jaccard") === 1.0 / 3.0))
    // path 1-2-3: no common neighbors on either edge
    val p3 = jacc(edges((1, 2), (2, 3)), 100)
    assert(p3.forall(r => r.getAs[Long]("common_nbrs") === 0L &&
      r.getAs[Double]("jaccard") === 0.0))
  }

  test("g04 equals brute-force per-edge common-neighbor count on a messy graph") {
    val pairs = (1 to 120).map { i =>
      ((i * 7919L) % 23, (i * 104729L) % 23)
    }.filter { case (a, b) => a != b }
    val e = edges(pairs: _*)
    val es = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nbr = es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = Graph.edgeJaccard(wd(e), sup(e), 10000).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getAs[Long]("common_nbrs"), r.getAs[Long]("deg_u"), r.getAs[Long]("deg_v")))).toMap
    assert(got.keySet === es, "one scored row per edge")
    es.foreach { case (u, v) =>
      val expect = (nbr(u) intersect nbr(v)).size.toLong
      assert(got((u, v)) === ((expect, nbr(u).size.toLong, nbr(v).size.toLong)),
        s"edge ($u,$v)")
    }
  }

  test("g02: total rank mass is conserved up to per-vertex floor loss") {
    val e = edges((1 to 60).map(i => ((i * 13L) % 17, (i * 29L) % 17))
      .filter(p => p._1 != p._2): _*)
    val deg = e.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expected = deg.values.map(d => (Graph.RankScale / d) * d).sum
    val got = Graph.pagerankStep(msgs(e), 1000).collect().map(_.getLong(2)).sum
    assert(got === expected, "sum of received = sum of sent (exact integer mass)")
  }

  test("g11 LPA barbell: two triangles + bridge settle into two communities, hand-computed rounds") {
    // triangle {1,2,3} + triangle {10,11,12} + bridge (3,10): the
    // deterministic min-tie sync updates are small enough to trace by
    // hand — round 1 scatters (6 moves, 4 labels), round 2 consolidates
    // left on 1 / right splits 10|3, round 3 lands the 2-community
    // fixpoint (v10 joins label 3), round 4 is a no-op row
    val e = edges((1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10))
    val got = Graph.lpaProfile(msgs(e), verts(e)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      (1L, 4L, 6L, 2L, 27L),
      (2L, 3L, 4L, 3L, 19L),
      (3L, 2L, 1L, 3L, 12L),
      (4L, 2L, 0L, 3L, 12L)))
  }

  test("g12 k-truss closed forms: K4 survives, shared-edge pair peels in two rounds, C5 empties, K5 survives") {
    def prof(e: org.apache.spark.sql.DataFrame) =
      Graph.kTrussPeel(tris(e), sup(e)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // K4: every edge in 2 triangles = exactly the k=4 bar; converged at round 1
    assert(prof(edges((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))) ===
      (1 to 4).map(r => (r.toLong, 4L, 0L, 6L, 4L)))
    // two triangles sharing (1,2): the 4 rim edges have support 1 -> peel,
    // then the bare bridge has support 0 -> peel, then empty
    assert(prof(edges((1, 2), (1, 3), (2, 3), (1, 4), (2, 4))) === Seq(
      (1L, 4L, 4L, 5L, 2L),
      (2L, 4L, 1L, 1L, 0L),
      (3L, 4L, 0L, 0L, 0L),
      (4L, 4L, 0L, 0L, 0L)))
    // C5: no triangles anywhere -> all 5 edges peel in round 1
    assert(prof(edges((1, 2), (2, 3), (3, 4), (4, 5), (5, 1))) === Seq(
      (1L, 4L, 5L, 5L, 0L),
      (2L, 4L, 0L, 0L, 0L),
      (3L, 4L, 0L, 0L, 0L),
      (4L, 4L, 0L, 0L, 0L)))
    // K5: every edge in 3 triangles > bar; 10 triangles total
    val k5 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    assert(prof(edges(k5: _*)) === (1 to 4).map(r => (r.toLong, 4L, 0L, 10L, 10L)))
  }

  test("g13 HITS hand-computed: 3-part / 2-customer bipartite, two rounds of max-renormalized scores") {
    import spark.implicits._
    // c1 buys {101,102,103}, c2 buys {101}:
    // round 1: a(101)=2e6 -> 1e6; a(102)=a(103)=1e6 -> 5e5;
    //          h(c1)=2e6 -> 1e6; h(c2)=1e6 -> 5e5
    // round 2: a(101)=1.5e6 -> 1e6; a(102)=a(103)=1e6 -> 666666;
    //          h(c1)=2333332 -> 1e6; h(c2)=1e6 -> floor(1e12/2333332)=428571
    val ed = Seq((1L, 101L), (1L, 102L), (1L, 103L), (2L, 101L)).toDF("c", "p")
    val got = Graph.hitsProfile(ed).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq(
      ("authority", 1L, 101L, 1000000L),
      ("authority", 2L, 102L, 666666L),
      ("authority", 3L, 103L, 666666L),
      ("hub", 1L, 1L, 1000000L),
      ("hub", 2L, 2L, 428571L)))
  }

  test("g14 PPR round-1 hand trace on the star: seed hub dominates, non-seed leaf trails") {
    // star 1-(2,3,4,5): deg(1)=4, leaves deg 1. Seeds (deg DESC, id ASC,
    // k=4) = {1, 2, 3, 4}; 5 is active but unseeded. r0 = 1e12 at seeds.
    // Round 1: m(1) = r2+r3+r4+r5 = 3e12 -> rank 1.5e11 + 2.55e12;
    //          m(leaf) = floor(1e12/4) = 2.5e11 -> seeds 1.5e11+2.125e11,
    //          leaf 5 just 2.125e11 (no restart mass).
    val e = edges((1, 2), (1, 3), (1, 4), (1, 5))
    val got = Graph.pprRanks(msgs(e), Graph.degrees(e), rounds = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got === Seq(
      (1L, 2700000000000L, true),
      (2L, 362500000000L, true),
      (3L, 362500000000L, true),
      (4L, 362500000000L, true),
      (5L, 212500000000L, false)))
  }

  test("g14 PPR personalizes: a component without a seed never acquires rank") {
    // K4 on {1,2,3,4} (deg 3 each — all four seeds land here) plus a
    // disjoint triangle {10,11,12} (deg 2). Uniform PageRank would rank
    // the triangle; PERSONALIZED PageRank must leave it at exactly 0 —
    // restart mass only re-enters at the seeds, and no walk crosses
    // components.
    val e = edges((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
      (10, 11), (10, 12), (11, 12))
    val got = Graph.pprRanks(msgs(e), Graph.degrees(e)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val (k4, tri) = got.partition(_._1 < 10L)
    assert(tri.map(_._1).toSet === Set(10L, 11L, 12L))
    assert(tri.forall(r => r._2 === 0L && !r._3), s"unseeded component must stay rank 0: ${tri.toSeq}")
    assert(k4.forall(_._3), "all four K4 vertices are seeds")
    // symmetric seeds on a vertex-transitive graph: identical ranks > 0
    assert(k4.map(_._2).toSet.size === 1 && k4.head._2 > 0L, s"K4 ranks: ${k4.toSeq}")
  }

  test("g15 neighbor sample closed form: a hub over the cap drops to exactly K, leaves keep all") {
    // star 1-(2..12): hub deg 11 (bitlength bucket 4) keeps SampleK = 8
    // of 11; the 11 leaves (deg 1, bucket 1) all keep their only edge
    val e = edges((2L to 12L).map(l => (1L, l)): _*)
    val got = Graph.neighborSample(msgs(e)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(5)))
      .toSeq
    assert(got.map(_._1) === Seq(1L, 4L), s"buckets: $got")
    val (leaves, hub) = (got(0), got(1))
    assert(leaves === ((1L, 11L, 11L, 11L, 0.0)), s"leaf bucket: $leaves")
    assert(hub._2 === 1L && hub._3 === 11L && hub._4 === 8L, s"hub bucket: $hub")
    assert(math.abs(hub._5 - 3.0 / 11.0) < 1e-15)
  }

  test("g15 on the fixture: cap bound respected, census conserves the directed edge count") {
    val rows = Graph.neighborSample(Graph.msgsFixture(spark, sfDir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (b, nv, tot, kept, _) =>
      assert(kept <= tot && kept <= Graph.SampleK * nv, s"bucket $b cap")
      // a vertex keeps min(deg, K) neighbors, so kept >= nv (deg >= 1)
      assert(kept >= nv, s"bucket $b keeps at least one edge per vertex")
    }
    val m = graft.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct()
    assert(m.count() > 0)
    val e2 = Graph.partEdges(spark, sfDir).count() * 2
    assert(rows.map(_._3).sum === e2, "census covers every directed edge exactly once")
  }
}
