package graft

/** Scale-trend guard for the heaviest L3 operators (SURVEY §8.9): runtime
  * from sf0.01 to sf0.1 (10× input) must stay ≤ ~linear. The per-round
  * bench only measures one scale, so a quadratic regression (an uncapped
  * pair expansion, a lost broadcast, an accidental cartesian) could hide
  * behind a green oracle — here it trips a 3×-slack linearity bound
  * (10× data × 3 slack = 30×; a quadratic blowup shows up as ~100×).
  *
  * The bound is deliberately loose: local[4] timings carry JIT/codegen
  * and fixed job-setup noise (each query gets a warmup run at sf0.001
  * first), and fixed overhead inflates the small-scale denominator, which
  * only makes the test MORE permissive — it exists to catch asymptotic
  * regressions, not percent-level ones.
  */
class ScaleTrendSpec extends SparkSpec {

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Best of `reps` — an asymptotic regression is slow EVERY time, while a
    * late-suite GC pause / shared-JVM hiccup (observed: a 52× one-off on a
    * query that re-times at 12×) is not; min-of-2 filters the latter
    * without loosening the bound on the former. */
  private def bestOf(reps: Int)(f: => Unit): Double =
    (1 to reps).map { _ =>
      val t = timed(f); spark.catalog.clearCache(); t
    }.min

  private val heavy = Seq(
    "dd3_minhash_lsh", "dd6_components", "tx5_winnow",
    // the IVFADC composition: candidate pass must stay codes-in-probed-
    // cells (a lost cell join or decoded-vector shuffle would go
    // super-linear); fits are cached after the first rep, min-of-2 takes
    // the fit-free timing
    "ann5_topk_ivfpq",
    // the degree-ordered orientation is the whole point: losing it turns
    // a hub's wedge generation O(deg²) and the closure join quadratic
    "gr2_triangles",
    // the per-vector distance agg must stay partial map-side (one row per
    // vector on the wire); a lost partial agg ships dim rows per vector
    "emb4_centroid_outlier",
    // dd6's rounds + one component-keyed arg-max + one keyed join — the
    // full emit path of the dedup pipeline; a lost map-side combine or an
    // accidental text shuffle in the scoring join would go super-linear
    "dd12_representative",
    // map-only hashed-bigram margins against a broadcast weight table; a
    // lost broadcast would shuffle the exploded (doc, fid) feature stream
    "tx18_quality_score")

  test("pair-stats inverted-index pass (dd2/dd9's shared build): sf0.01 → sf0.1 stays ~linear") {
    // dd2/dd9 read the persisted pair-stats table, so timing the QUERIES
    // would measure a table scan; the quadratic risk (uncapped posting
    // expansion) lives in the build — time it directly, uncached
    import graft.operators.Dedup
    Dedup.pairStats(spark, sf("sf0.001")).count() // warmup: codegen + JIT
    spark.catalog.clearCache()
    val tSmall = bestOf(2) { Dedup.pairStats(spark, sf("sf0.01")).count() }
    val tBig = bestOf(2) { Dedup.pairStats(spark, sf("sf0.1")).count() }
    val ratio = tBig / tSmall
    assert(ratio <= 30.0,
      f"pairStats: $tSmall%.2fs → $tBig%.2fs (${ratio}%.1f×) for 10× input — " +
        "super-linear growth, check the MaxPosting cap")
  }

  test("row-number posting build (r14): sf0.01 → sf0.1 stays ~linear") {
    // the O(rows) posting build's quadratic risks: a lost broadcast on
    // the pid→(file, rg, first_row) meta join (would shuffle the scan
    // twice) or a per-row-group plan blowup. Build into a throwaway temp
    // dir at each scale, uncached.
    import graft.index.RowLevelIndex
    // warmup (fixture+catalog builds land here, not in the timings)
    Seq(sf("sf0.001"), sf("sf0.01"), sf("sf0.1"))
      .foreach(d => graft.operators.Indexed.lineitemIndexed(spark, d).count())
    def timedBuild(sfd: String): Double = bestOf(2) {
      val (plans, schema, dataDir) =
        graft.operators.Indexed.indexHandles(spark, sfd)
      val out = tempDir("graft-sts-idx") + "/rows"
      RowLevelIndex.build(spark, dataDir, plans, schema, "l_orderkey", out,
        withRowNumbers = true)
    }
    val tSmall = timedBuild(sf("sf0.01"))
    val tBig = timedBuild(sf("sf0.1"))
    val ratio = tBig / tSmall
    assert(ratio <= 30.0,
      f"row-number build: $tSmall%.2fs → $tBig%.2fs (${ratio}%.1f×) for 10× " +
        "input — super-linear growth, check the meta broadcast / plan size")
  }

  heavy.foreach { name =>
    test(s"$name: sf0.01 → sf0.1 runtime stays ~linear in input size") {
      val fn = SparkEntry.queries(name)
      fn(spark, sf("sf0.001")).count() // warmup: codegen + JIT
      spark.catalog.clearCache()
      val tSmall = bestOf(2) { fn(spark, sf("sf0.01")).count() }
      val tBig = bestOf(2) { fn(spark, sf("sf0.1")).count() }
      val ratio = tBig / tSmall
      assert(ratio <= 30.0,
        f"$name: $tSmall%.2fs → $tBig%.2fs (${ratio}%.1f×) for 10× input — " +
          "super-linear growth, check for uncapped pair expansion / lost broadcast")
    }
  }
}
