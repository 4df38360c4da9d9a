package graft

import graft.index.DerbyStatsIndex
import graft.sources.{IndexedParquet, RowGroupSkipScan}
import org.apache.spark.sql.functions._


/** Planner-side bloom probing — the portability fallback for catalogs that
  * cannot host JVM probe functions (PlannerBloom + DerbyStatsIndex's
  * `plannerSideBloomProbe` mode). The reference's real deployment is a
  * network-attached relational catalog
  * (/root/reference/sqlx-sqlite/src/main.rs:89-90), which generally cannot
  * run engine code in-store; these tests prove the SAME pruning decision
  * falls out of portable SQL + planner-side probes over shipped candidate
  * bytes.
  *
  * Contract pinned here:
  *  - the planner-mode catalog NEVER registers the GRAFT_BLOOM functions
  *    (if the rendered SQL referenced them, Derby would error and getFiles
  *    would degrade to allFiles — which the identical-decision assertions
  *    would catch);
  *  - for every predicate shape that emits bloom terms (equality both
  *    orders, <=>, IN, equality under a widening cast, bloom terms under
  *    OR and AND spines), the kept (file → row groups) map is IDENTICAL
  *    to the in-catalog probe's;
  *  - a transfer cap of 0 degrades to the min/max-only decision (sound
  *    over-scan), never an error;
  *  - no false prunes end-to-end (scan through the planner-pruned plans
  *    loses no rows).
  */
class BloomPortabilitySpec extends SparkSpec {

  // same shuffled-key shape as BloomPruningSpec: 160 row groups whose
  // min/max all span ~the whole key domain, blooms on seq/key/skey
  private lazy val fx: Fx = {
    val base = tempDir("graft-bloomport")
    val dir = s"$base/data"
    import spark.implicits._
    (0 until 8000)
      .map(i => ((i.toLong * 7919L % 8009L).toInt, i.toLong * 7919L % 8009L,
        s"key-${i.toLong * 7919L % 8009L}"))
      .toDF("seq", "key", "skey")
      .coalesce(1)
      .write.option("parquet.block.row.count.limit", "50")
      .mode("overwrite").parquet(dir)
    // two catalogs over the same data: in-catalog probes (JVM functions
    // registered) and planner-side probes (no functions, fresh db) — the
    // bloom build is deterministic, so stored blooms are byte-identical
    val (inCat, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("seq", "key", "skey"), s"$base/db-incat",
      bloomCols = Seq("seq", "key", "skey"))
    val (planner, _) = IndexedParquet.buildIndex(
      spark, dir, Seq("seq", "key", "skey"), s"$base/db-planner",
      bloomCols = Seq("seq", "key", "skey"), plannerSideBloomProbe = true)
    Fx(base, dir, inCat, planner, schema)
  }
  private case class Fx(base: String, dir: String,
      inCat: graft.index.StatsIndex, planner: graft.index.StatsIndex,
      schema: org.apache.spark.sql.types.StructType)

  private def resolved(pred: org.apache.spark.sql.Column) =
    RowGroupSkipScan.resolvePredicate(spark, fx.schema, pred)

  private def keptMap(index: graft.index.StatsIndex, pred: org.apache.spark.sql.Column) =
    index.getFiles(resolved(pred)).map(p => p.fileName -> p.scanRowGroups).toMap

  test("planner-mode catalog registers no JVM probe functions") {
    fx // force both builds
    val conn = java.sql.DriverManager.getConnection(
      s"jdbc:derby:${fx.base}/db-planner")
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT COUNT(*) FROM SYS.SYSALIASES WHERE ALIAS LIKE 'GRAFT%'")
      rs.next()
      assert(rs.getInt(1) === 0, "planner-mode DDL must not create functions")
    } finally conn.close()
  }

  test("identical decisions: every bloom-emitting shape keeps the same row groups") {
    val shapes = Seq(
      "eq-long"       -> (col("key") === 4242L),
      "eq-flipped"    -> (lit(777L) === col("key")),
      "eq-string"     -> (col("skey") === "key-777"),
      "null-safe-eq"  -> (col("key") <=> 4242L),
      "in-list"       -> col("key").isin(1L, 1000L, 7000L),
      "cast-widening" -> (col("seq").cast("long") === 4242L),
      "cast-in"       -> col("seq").cast("long").isin(12L, 4242L),
      "under-and"     -> (col("key") === 4242L && col("skey") === "key-4242"),
      "under-or"      -> (col("key") === 1L || col("skey") === "key-7000"),
      "with-range"    -> (col("key") === 4242L && col("seq") >= 0))
    shapes.foreach { case (name, pred) =>
      val incat = keptMap(fx.inCat, pred)
      val planner = keptMap(fx.planner, pred)
      assert(planner === incat, s"$name: planner-side decision diverged")
      // and the shape actually exercised the bloom: on shuffled keys the
      // min/max-only decision keeps all 160 row groups
      assert(incat.values.map(_.size).sum <= 48,
        s"$name kept ${incat.values.map(_.size).sum} of 160 — bloom never fired")
    }
  }

  test("null-safe equality and cast shapes prune >90% through BOTH paths") {
    Seq(fx.inCat, fx.planner).foreach { idx =>
      val nse = keptMap(idx, col("key") <=> 4242L).values.map(_.size).sum
      assert(nse >= 1 && nse <= 16, s"<=> kept $nse of 160")
      val cast = keptMap(idx, col("seq").cast("long") === 4242L).values.map(_.size).sum
      assert(cast >= 1 && cast <= 16, s"widening-cast eq kept $cast of 160")
    }
  }

  test("transfer cap 0 degrades to the min/max decision, not an error") {
    val capped = new DerbyStatsIndex(
      s"${fx.base}/db-planner", fx.planner.indexedSchema,
      Set("seq", "key", "skey"), plannerSideBloomProbe = true,
      maxPlannerProbeRowGroups = 0)
    try {
      val kept = keptMap(capped, col("key") === 4242L)
      // min/max keeps everything on the shuffled key — sound over-scan
      assert(kept.values.map(_.size).sum === 160,
        "capped planner probe must fall back to the min/max plans")
    } finally capped.close()
  }

  test("no false prune: planner-pruned scans lose no rows over existing keys") {
    (0 until 12).map(i => (i.toLong * 331L) % 8009L).foreach { k =>
      val pred = col("key") === k
      val plans = fx.planner.getFiles(resolved(pred))
      val got =
        if (plans.isEmpty) 0L
        else RowGroupSkipScan.scan(spark, fx.dir, plans, fx.schema)
          .filter(pred).count()
      val expected = spark.read.parquet(fx.dir).filter(pred).count()
      assert(got === expected, s"key $k lost rows through the planner path")
    }
  }

  test("idx12's decision replays identically through the fallback path") {
    val dir = sf("sf0.001")
    val (inCat, _, dataDir) = graft.operators.Indexed.fixture(spark, dir)
    val probe = inCat.minIndexedValue("l_ukey").get.asInstanceOf[String]
    val pred = RowGroupSkipScan.resolvePredicate(
      spark, spark.read.parquet(dataDir).schema, col("l_ukey") === probe)
    // a second handle on the SAME catalog (the fixture's statsdb-v6 —
    // keep in lockstep with Indexed.fixture's dbPath), probing
    // planner-side
    val planner = new DerbyStatsIndex(
      dataDir.replace("lineitem-v5", "statsdb-v6"), inCat.indexedSchema,
      Set("l_ukey"), plannerSideBloomProbe = true)
    try {
      val a = inCat.getFiles(pred).map(p => p.fileName -> p.scanRowGroups).toMap
      val b = planner.getFiles(pred).map(p => p.fileName -> p.scanRowGroups).toMap
      assert(b === a, "idx12 decision diverged through the fallback path")
      assert(a.values.map(_.size).sum >= 1)
    } finally planner.close()
  }
}
