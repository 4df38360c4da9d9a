package graft

import graft.index.{ColumnStats, DerbyStatsIndex, FileStats, RowGroupStats}
import graft.prune.PartPrune
import graft.sources.RowGroupSkipScan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._


/** Catalog SCALE demonstration (SURVEY §7.6's design note, measured):
  * the stats store must keep planning O(index-slice) when the index
  * itself is big. A synthetic MILLION-row-group catalog (4000 files ×
  * 250 groups — no data files exist or are needed: planning never
  * touches data) pins wall-clock budgets for the three planner walks:
  *
  *  - the pruning walk (`getFiles`): one in-store pass over the stats
  *    rows — O(catalog) per query by design, but a SINGLE round trip;
  *  - the threshold walk (`topKSurvivors`): guarantee cursor + survivor
  *    query, both in-store;
  *  - the constancy refinement (`PartPrune.refine`): O(surviving plans)
  *    via the file-restricted stats fetch ([[graft.index.StatsIndex
  *    .rowGroupStatsFor]]) — at this scale the unrestricted fetch
  *    (catalog-wide, ~1M rows per referenced column) is exactly the walk
  *    that stops scaling, which the relative assertion pins.
  *
  * Budgets are deliberately loose multiples of observed times (sandbox
  * runs share disk/CPU — a 2× contention window must not flake the
  * suite) but tight enough that an accidental O(catalog × plans) or a
  * lost Derby index access path fails the spec. */
class CatalogScaleSpec extends SparkSpec {

  private val NFiles = 4000
  private val RgsPerFile = 250 // 4000 × 250 = 1,000,000 row groups
  private val RowsPerRg = 100L

  private val schema = StructType(Seq(
    StructField("v", LongType), StructField("ts", TimestampType)))

  private def fileName(fi: Int) = f"f$fi%05d.parquet"

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // Built once; executor-side ingest (the 100 TB path: FileStats are
  // synthesized in tasks, the driver never materializes the million rows).
  // Per global ordinal g = file·250 + rg: `v` spans [g·1000, g·1000+999]
  // (globally sorted, disjoint) and `ts` is day-constant on day g (1–2 h
  // into the day) — zero nulls, so every group certifies for both the
  // interval walk and the constancy refinement.
  private lazy val index: DerbyStatsIndex = {
    val db = tempDir("graft-catscale") + "/db"
    val ix = new DerbyStatsIndex(db, schema)
    ix.initialize(schema)
    val rgs = RgsPerFile
    val rows = RowsPerRg
    val (_, t) = timed {
      ix.ingestAll(spark.sparkContext.parallelize(0 until NFiles, 8)
        .map { fi =>
          val name = f"f$fi%05d.parquet"
          FileStats(name, rgs * 1024L, rgs * rows,
            (0 until rgs).map { rg =>
              val g = fi.toLong * rgs + rg
              RowGroupStats(rg, rows, rg * 1024L, 1024L, Map(
                "v" -> ColumnStats(Some(0L), Some(g * 1000L), Some(g * 1000L + 999L)),
                "ts" -> ColumnStats(Some(0L),
                  Some(g * 86_400_000_000L + 3_600_000_000L),
                  Some(g * 86_400_000_000L + 7_200_000_000L))))
            }.toVector)
        })
    }
    info(f"ingested ${NFiles * RgsPerFile}%,d row groups in $t%.1f s")
    ix
  }

  test("1M-row-group pruning walk: O(index) single round trip, bounded") {
    val ix = index // force the fixture OUTSIDE the timed window
    // a 600-group slice of the sorted layout, straddling file boundaries
    val lo = 499_700L * 1000L
    val hi = 500_300L * 1000L - 1L
    val pred = RowGroupSkipScan.resolvePredicate(
      spark, schema, col("v") >= lo && col("v") <= hi)
    // the FIRST post-ingest walk is the honest one: ingestAll settles the
    // bulk load (checkpoint + optimizer statistics), so no dirty-page or
    // plan-quality debt may leak onto the query path
    val (plans, t) = timed(ix.getFiles(pred))
    val (_, tw) = timed(ix.getFiles(pred))
    info(f"pruning walk: first $t%.2f s, warm $tw%.2f s")
    assert(plans.map(_.scanRowGroups.size).sum == 600,
      plans.map(p => p.fileName -> p.scanRowGroups.size).toString)
    // ordinals 499700..500299 at 250 groups/file: 1998 (rg 200..249),
    // 1999 + 2000 (all 250 each), 2001 (rg 0..49)
    assert(plans.map(_.fileName) ==
      Seq(fileName(1998), fileName(1999), fileName(2000), fileName(2001)))
    assert(plans.head.scanRowGroups.toSeq == (200 until 250) &&
      plans.last.scanRowGroups.toSeq == (0 until 50))
    assert(t < 10.0, f"pruning walk took $t%.1f s on 1M row groups")
    assert(tw < 5.0, f"warm pruning walk took $tw%.1f s on 1M row groups")
  }

  test("1M-row-group threshold walk: top-k survivors stay in-store, bounded") {
    val ix = index // force the fixture outside the timed window
    val (out, t) = timed(
      ix.topKSurvivors("v", 10, descending = true, nullsFirst = false))
    info(f"threshold walk: $t%.2f s")
    val plans = out.getOrElse(fail("catalog declined a servable top-k"))
    // v is globally sorted and disjoint: the last group alone guarantees
    // k=10 (100 rows) and no other group's best beats its guarantee
    assert(plans.map(p => p.fileName -> p.scanRowGroups.toSeq) ==
      Seq(fileName(NFiles - 1) -> Seq(RgsPerFile - 1)))
    assert(t < 10.0, f"threshold walk took $t%.1f s on 1M row groups")
  }

  test("constancy refinement is O(surviving plans), not O(catalog)") {
    val ix = index // force the fixture outside the timed window
    // narrow survivors: 4 files / 600 groups out of 1M (the pruning
    // walk's output shape); refine a determined-part conjunct over them
    val lo = 499_700L * 1000L
    val hi = 500_300L * 1000L - 1L
    val rangePred = RowGroupSkipScan.resolvePredicate(
      spark, schema, col("v") >= lo && col("v") <= hi)
    val plans = ix.getFiles(rangePred)
    val partPred = RowGroupSkipScan.resolvePredicate(
      spark, schema, dayofweek(col("ts")) === lit(7))
    assert(PartPrune.qualifies(ix, Seq(partPred)), "recognizer regressed")
    val ((refined, route), t) =
      timed(PartPrune.refine(ix, Seq(partPred), plans))
    info(f"constancy refinement over 600 surviving groups: $t%.2f s")
    // every group is day-constant zero-null: exactly the Saturdays stay.
    // epoch day 2 (1970-01-03) was a Saturday -> ordinals ≡ 2 (mod 7)
    val expected = (499_700L until 500_300L).count(_ % 7 == 2)
    assert(refined.map(_.scanRowGroups.size).sum == expected, route.toString)
    assert(route.exists(_.startsWith("part-const(")), route.toString)
    // budget: file-restricted fetch + in-memory pass — seconds would mean
    // the fetch regressed to catalog-wide
    assert(t < 2.0, f"refinement took $t%.1f s — O(catalog) fetch is back?")
  }

  test("semi-join envelope-refine stays bounded at 1M row groups") {
    val ix = index // force the fixture outside the timed window
    // a range-correlated dim key set (the incremental-reprocess shape):
    // 1000 keys inside a 600-group envelope, one key per ~0.6 groups —
    // the envelope walk bounds candidates, the binary-search refinement
    // keeps only key-holding groups
    val keys = (499_700L * 1000L until 500_300L * 1000L by 600L).map(Long.box)
    assert(keys.size == 1000)
    val (dec, t) = timed(graft.prune.JoinPrune.prunePlans(
      spark, ix, schema, "v", keys))
    info(f"semi-join prune of ${keys.size} keys: $t%.2f s (${dec.route})")
    assert(dec.route == "envelope-refine")
    // every 1000-wide group inside the envelope holds a key at step 600
    assert(dec.scannedGroups == 600 && dec.totalGroups == 1_000_000)
    // budget: one envelope walk + O(survivors) fetch + binary searches —
    // an O(catalog × keys) scan or a catalog-wide fetch would blow this
    assert(t < 12.0, f"semi-join prune took $t%.1f s on 1M row groups")

    // sparse keys: 10 keys, each in its own group — in-probe route
    val sparse = (0 until 10).map(i => Long.box(i * 100_000_000L))
    val (dec2, t2) = timed(graft.prune.JoinPrune.prunePlans(
      spark, ix, schema, "v", sparse))
    info(f"in-probe prune of 10 keys: $t2%.2f s (${dec2.route})")
    assert(dec2.route == "in-probe" && dec2.scannedGroups == 10)
    assert(t2 < 12.0, f"in-probe took $t2%.1f s on 1M row groups")
  }

  test("file-restricted stats fetch matches the unrestricted fetch, faster") {
    val ix = index // force the fixture outside the timed window
    val files = Set(fileName(0), fileName(2117), fileName(NFiles - 1))
    val (restricted, tr) = timed(ix.rowGroupStatsFor("ts", files).get)
    val (full, tf) = timed(ix.rowGroupStats("ts").get)
    info(f"restricted fetch: $tr%.3f s, full fetch: $tf%.2f s")
    val wantSubset = full.filter(s => files.contains(s.fileName))
    assert(restricted.toSet == wantSubset.toSet)
    assert(restricted.size == 3 * RgsPerFile)
    // the point of the pushdown: 750 rows must not cost like 1M
    assert(tr < tf, f"restricted $tr%.3f s vs full $tf%.3f s")
    // empty restriction short-circuits
    assert(index.rowGroupStatsFor("ts", Set.empty) == Some(Nil))
  }
}
