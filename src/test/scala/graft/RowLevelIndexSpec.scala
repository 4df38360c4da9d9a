package graft

import graft.index.RowLevelIndex
import graft.sources.IndexedParquet
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** Row-level index: exact postings beat min/max pruning on sparse keys,
  * and point queries through the index match plain scans.
  */
class RowLevelIndexSpec extends SparkSpec {

  /** Rows of one query against a posting catalog, read over JDBC. */
  private def catalogRows[T](indexDir: String, sql: String)(
      f: java.sql.ResultSet => T): Seq[T] = {
    val c = java.sql.DriverManager.getConnection(s"jdbc:derby:$indexDir")
    try {
      val rs = c.createStatement().executeQuery(sql)
      val out = Seq.newBuilder[T]
      while (rs.next()) out += f(rs)
      out.result()
    } finally c.close()
  }

  private def catalogUpdate(indexDir: String, sql: String): Unit = {
    val c = java.sql.DriverManager.getConnection(s"jdbc:derby:$indexDir")
    try c.createStatement().executeUpdate(sql) finally c.close()
  }

  // keys deliberately interleaved so every file's min/max range covers
  // every key, defeating min/max pruning — only exact postings help:
  // file i holds keys { i, 100+i, 200+i } spread over 2 row groups,
  // plus range-spanning filler keys
  private lazy val env = {
    val base = tempDir("graft-rowlevel")
    val dir = s"$base/data"
    Files.createDirectories(Paths.get(dir))
    import spark.implicits._
    (0 until 4).foreach { fi =>
      val rows = (0 until 100).map { j =>
        val k = if (j % 50 == 0) fi + (j / 50) * 100 // sparse target keys
                else 1000 + (j % 7) // common filler keys in every group
        (k, s"f$fi-r$j")
      }
      val tmp = s"$base/tmp-$fi"
      rows.toDF("k", "payload").coalesce(1)
        .write.option("parquet.block.row.count.limit", "50")
        .mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, s"f$fi.parquet"))
    }
    val (stats, schema) = IndexedParquet.buildIndex(spark, dir, Seq("k"), s"$base/statsdb")
    val plans = stats.allFiles()
    RowLevelIndex.build(spark, dir, plans, schema, "k", s"$base/rowidx")
    (dir, s"$base/rowidx", plans, schema, stats)
  }

  test("postings are exact: a sparse key maps to exactly its row group") {
    val (_, idxDir, plans, _, _) = env
    // key 102 lives only in file 2, row group 1 (j=50)
    val hit = RowLevelIndex.lookup(idxDir, 102, plans)
    assert(hit.map(p => (p.fileName, p.scanRowGroups.toSeq)) ==
      Seq(("f2.parquet", Seq(1))))
  }

  test("row-level beats min/max pruning on range-spanning keys") {
    val (_, idxDir, plans, schema, stats) = env
    // min/max pruning: every file's range [fi, 1006] covers key 3 -> keeps
    // multiple row groups; exact postings keep exactly one
    val pred = graft.sources.RowGroupSkipScan.resolvePredicate(
      spark, schema, col("k") === 3)
    val minMaxKept = stats.getFiles(pred).map(_.scanRowGroups.size).sum
    val exactKept = RowLevelIndex.lookup(idxDir, 3, plans)
      .map(_.scanRowGroups.size).sum
    assert(exactKept == 1)
    assert(minMaxKept > exactKept,
      s"min/max kept $minMaxKept, row-level kept $exactKept")
  }

  test("hot-key lookup is capped: degrades to the full plan set, stays correct") {
    val (dir, idxDir, plans, schema, _) = env
    // key 1000 occurs in every row group (8 postings) — past the cap the
    // lookup must NOT materialize the postings on the driver; it returns
    // the caller's full plans instead (over-scan, never wrong)
    val capped = RowLevelIndex.lookup(idxDir, 1000, plans, maxPostings = 3)
    assert(capped == plans, "capped hot-key lookup should fall back to all plans")
    // under the cap the postings stay exact
    val exact = RowLevelIndex.lookup(idxDir, 1000, plans)
    assert(exact.map(_.scanRowGroups.size).sum == 8)
    // correctness through the capped (fallback) path
    val got = graft.sources.RowGroupSkipScan.scan(spark, dir, capped, schema)
      .filter(col("k") === 1000).count()
    val want = spark.read.parquet(dir).filter(col("k") === 1000).count()
    assert(got == want)
  }

  test("build plan is O(1) in row-group count (one scan, no per-RG unions)") {
    val (dir, _, plans, schema, _) = env
    Seq(false, true).foreach { rows =>
      val plan = RowLevelIndex.buildPlan(spark, dir, plans, schema, "k",
        withRowNumbers = rows).queryExecution.optimizedPlan
      val nodes = plan.collect { case n => n }.size
      // 8 row groups in the fixture; the old per-row-group unionAll plan had
      // >5 nodes per row group — the single-job plan stays under a constant
      assert(nodes <= 12, s"expected a constant-size plan, got $nodes nodes:\n$plan")
      assert(!plan.toString.contains("Union"), "per-row-group unions crept back in")
      // one stage: the catalog's key B-tree orders lookups, so nothing
      // shuffles — no range repartition, aggregate or global sort
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, RepartitionByExpression, Sort}
      assert(plan.collect {
        case n: RepartitionByExpression => n
        case n: Aggregate => n
        case n: Sort if n.global => n
      }.isEmpty, s"build plan shuffles:\n$plan")
    }
  }

  test("point query through the row-level index matches a plain scan") {
    val (dir, idxDir, plans, schema, _) = env
    val plain = spark.read.parquet(dir)
    Seq(3, 102, 201, 1003, -5).foreach { k =>
      val got = RowLevelIndex.pointQuery(spark, dir, idxDir, plans, schema, "k", k)
        .select("payload").collect().map(_.getString(0)).sorted.toSeq
      val want = plain.filter(col("k") === k)
        .select("payload").collect().map(_.getString(0)).sorted.toSeq
      assert(got == want, s"key $k")
    }
  }

  // ---- row-number precision (r14, the reference sketch's full shape) ----

  private lazy val rowsIdxDir = {
    val (dir, idxDir, plans, schema, _) = env
    val d = idxDir + "-rows"
    RowLevelIndex.build(spark, dir, plans, schema, "k", d,
      withRowNumbers = true)
    d
  }

  test("row-number postings equal Spark's own _metadata.row_index, per key") {
    val (dir, _, _, _, _) = env
    rowsIdxDir // force build
    // ground truth from Spark's native parquet metadata column — the
    // SAME within-file numbering our distributed ordinal reconstruction
    // must reproduce exactly
    val truth = spark.read.parquet(dir)
      .select(col("k"), col("_metadata.file_name").as("f"),
        col("_metadata.row_index").as("rn"))
      .collect()
      .groupBy(_.getInt(0))
      .view.mapValues(_.map(r => (r.getString(1), r.getLong(2))).toSet).toMap
    Seq(0, 3, 102, 201, 1000, 1003).foreach { k =>
      val got = RowLevelIndex.postingsRows(rowsIdxDir, Seq(k)).get
        .toSeq.flatMap { case (f, prs) => prs.map { case (_, rn) => (f, rn) } }
        .toSet
      assert(got == truth.getOrElse(k, Set.empty), s"key $k")
    }
  }

  test("row postings carry the right row GROUP for each row number") {
    val (_, _, plans, _, _) = env
    // fixture files have 2 row groups of 50 rows each: the group of a
    // row number is its ordinal / 50
    val all = catalogRows(rowsIdxDir,
      "SELECT file_name, row_group, row_num FROM postings")(
      rs => (rs.getString(1), rs.getInt(2), rs.getLong(3)))
    assert(all.nonEmpty)
    all.foreach { case (f, rg, rn) =>
      assert(rg == (rn / 50).toInt, s"$f rn=$rn rg=$rg")
    }
    // and the posting count is O(rows): one per data row
    assert(all.length == plans.map(_.rowGroupRows.values.sum).sum)
  }

  test("row-precision point query matches a plain scan, incl. misses") {
    val (dir, _, plans, schema, _) = env
    val plain = spark.read.parquet(dir)
    Seq(3, 102, 201, 1003, -5, 1000).foreach { k =>
      val got = RowLevelIndex.pointQueryRows(
        spark, dir, rowsIdxDir, plans, schema, "k", k)
        .select("payload").collect().map(_.getString(0)).sorted.toSeq
      val want = plain.filter(col("k") === k)
        .select("payload").collect().map(_.getString(0)).sorted.toSeq
      assert(got == want, s"key $k")
    }
  }

  test("row-precision query degrades on a compact index and on hot keys") {
    val (dir, idxDir, plans, schema, _) = env
    // a compact (no row_number column) index: postingsRows declines,
    // pointQueryRows falls back to the rg-level path — still correct
    assert(RowLevelIndex.postingsRows(idxDir, Seq(3)).isEmpty)
    val viaFallback = RowLevelIndex.pointQueryRows(
      spark, dir, idxDir, plans, schema, "k", 3)
      .select("payload").collect().map(_.getString(0)).sorted.toSeq
    val want = spark.read.parquet(dir).filter(col("k") === 3)
      .select("payload").collect().map(_.getString(0)).sorted.toSeq
    assert(viaFallback == want)
    // a hot key past the cap: postingsRows declines instead of
    // materializing every row position on the driver
    assert(RowLevelIndex.postingsRows(
      rowsIdxDir, Seq(1000), maxPostings = 3).isEmpty)
    val hot = RowLevelIndex.pointQueryRows(
      spark, dir, rowsIdxDir, plans, schema, "k", 1000, maxPostings = 3)
      .select("payload").collect().map(_.getString(0)).sorted.toSeq
    val wantHot = spark.read.parquet(dir).filter(col("k") === 1000)
      .select("payload").collect().map(_.getString(0)).sorted.toSeq
    assert(hot == wantHot)
  }

  test("multi-key row fetch (IN-list) matches a plain scan, incl. degrades") {
    val (dir, idxDir, plans, schema, _) = env
    val plain = spark.read.parquet(dir)
    def want(ks: Seq[Int]) = plain.filter(col("k").isin(ks.map(Int.box): _*))
      .select("payload").collect().map(_.getString(0)).sorted.toSeq
    def got(ix: String, ks: Seq[Int], cap: Int = RowLevelIndex.MaxPostings) =
      RowLevelIndex.fetchRows(spark, dir, ix, plans, schema, "k",
        ks.map(Int.box), cap)
        .select("payload").collect().map(_.getString(0)).sorted.toSeq
    val ks = Seq(3, 102, 201, -5)
    assert(got(rowsIdxDir, ks) == want(ks))
    // with a hot key in the set: past the cap, degrades but stays exact
    val hot = Seq(3, 1000)
    assert(got(rowsIdxDir, hot, cap = 3) == want(hot))
    // compact (rg-level) index: fetchRows degrades to postings + filter
    assert(got(idxDir, ks) == want(ks))
    // empty key set / all-miss set
    assert(got(rowsIdxDir, Seq(-7, -8)) == Seq.empty)
  }

  test("stale postings beyond a file's current group count degrade, not throw") {
    val (dir, _, plans, schema, _) = env
    val staleDir = rowsIdxDir + "-stale"
    // rebuild the live index, then insert stale postings claiming key 3 lives
    // in row groups the (same-name, rewritten-smaller) files no longer
    // have: one in a file with NO live posting for the key (its plan must
    // drop entirely) and one in the file that DOES hold the key (its plan
    // must keep only the live group). Before the planning-side defense,
    // firstRowOffsets missed (f, 99) and fetchRows threw
    // NoSuchElementException instead of degrading.
    RowLevelIndex.build(spark, dir, plans, schema, "k", staleDir,
      withRowNumbers = true)
    catalogUpdate(staleDir,
      "INSERT INTO postings (pkey, file_name, row_group, row_num) VALUES " +
        "(3, 'f0.parquet', 99, 4950), (3, 'f3.parquet', 99, 4951)")
    val got = RowLevelIndex.fetchRows(spark, dir, staleDir, plans, schema,
        "k", Seq(Int.box(3)))
      .select("payload").collect().map(_.getString(0)).sorted.toSeq
    val want = spark.read.parquet(dir).filter(col("k") === 3)
      .select("payload").collect().map(_.getString(0)).sorted.toSeq
    assert(got == want)
  }

  test("row-precision scan reads only the posting row groups") {
    val (dir, _, plans, schema, _) = env
    // key 102 lives only in f2 row group 1: the underlying scan must be
    // pruned to that single row group before the ordinal semi-join
    val df = RowLevelIndex.pointQueryRows(
      spark, dir, rowsIdxDir, plans, schema, "k", 102)
    assert(df.rdd.getNumPartitions == 1,
      "one posting row group must scan as one partition")
    val got = df.select("payload").collect().map(_.getString(0)).toSeq
    assert(got == Seq("f2-r50"))
  }
}
