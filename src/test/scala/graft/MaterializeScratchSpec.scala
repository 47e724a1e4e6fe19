package graft

/** Pins the toStorage scratch contract (round-7 form, per the round-6
  * advisory): NO dir is deleted while the process lives — two frames
  * produced under the same tag must BOTH stay readable (the previous
  * eager delete-on-overwrite relied on an unenforced sequential-
  * consumption contract and broke any plan composing two results of the
  * same producer) — and cleanup happens wholesale in the shutdown hook,
  * which only registers paths java.io.File can actually delete (local),
  * so the code matches the documented "cluster scratch is the
  * scheduler's job" contract.
  */
class MaterializeScratchSpec extends SparkSpec {

  test("every toStorage frame stays readable for the whole session, including same-tag overlaps") {
    val s = spark
    import s.implicits._
    val scratch = SparkSpec.tmpDir("graft_scratch_spec")
    val old = s.conf.getOption("spark.graft.scratchDir")
    s.conf.set("spark.graft.scratchDir", scratch)
    try {
      val frames = (1 to 4).map(i =>
        i -> Materialize.toStorage(Seq((i, "x")).toDF("id", "v"), "spec_tag"))
      // all four live: the shutdown hook, not an eager reaper, owns cleanup
      val dirs = new java.io.File(scratch).listFiles().filter(_.getName.startsWith("spec_tag_"))
      assert(dirs.length == 4, s"expected all 4 scratch dirs live in-session, found ${dirs.length}")
      // and every frame — not just the newest — still answers: the
      // composing-two-results scenario the old eager delete broke
      frames.foreach { case (i, df) =>
        assert(df.collect().map(_.getInt(0)).toSeq == Seq(i), s"frame $i must stay readable")
      }
    } finally {
      old match {
        case Some(v) => s.conf.set("spark.graft.scratchDir", v)
        case None    => s.conf.unset("spark.graft.scratchDir")
      }
    }
  }

  test("a fixture is served from the memo while its source is unchanged and rebuilt after a rewrite") {
    val s = spark
    import s.implicits._
    val src = SparkSpec.tmpDir("graft_fixture_src") + "/t"
    Seq(1L, 2L).toDF("id").write.parquet(src)
    var builds = 0
    def read(): Seq[Long] =
      Materialize.fixture(s, "spec-fx", src) {
        builds += 1
        s.read.parquet(src)
      }.collect().map(_.getLong(0)).sorted.toSeq
    assert(read() === Seq(1L, 2L))
    assert(read() === Seq(1L, 2L))
    assert(builds === 1, "an unchanged source must be a memo hit")
    Seq(3L, 4L, 5L).toDF("id").write.mode("overwrite").parquet(src)
    assert(read() === Seq(3L, 4L, 5L), "a rewritten source must not serve the stale copy")
    assert(builds === 2)
  }

  test("shutdown-hook registration is local-paths-only (cluster URIs are the scheduler's job)") {
    assert(Materialize.isLocalPath("/tmp/graft-scratch/x"))
    assert(Materialize.isLocalPath("file:/tmp/graft-scratch/x"))
    assert(!Materialize.isLocalPath("hdfs://nn:8020/scratch/x"))
    assert(!Materialize.isLocalPath("s3a://bucket/scratch/x"))
  }
}
