package graft

import graft.sources.IndexedParquet
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.util.Random

/** Property test for the pruning soundness invariant (the reference's
  * conversions.rs:32 contract, SURVEY.md §5): for ANY predicate, every file
  * containing at least one matching row must survive index pruning —
  * pruning may over-scan, never under-scan. Exercised end-to-end through
  * the real stack (footer stats → Derby → stats-space rewrite → Derby SQL),
  * including nullable columns with all-null row groups.
  */
class PruningSoundnessSpec extends SparkSpec {

  private val rng = new Random(4242)

  private lazy val env: (String, DataFrame, graft.sources.IndexedParquetFileIndex) = {
    val base = tempDir("graft-sound")
    val dir = s"$base/data"
    Files.createDirectories(Paths.get(dir))
    import spark.implicits._
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")
    (1 to 6).foreach { fi =>
      val rows = (1 to 100).map { _ =>
        // file 3 gets an all-null leading block for k (an all-null row group)
        val k: Option[Int] =
          if (fi == 3 && rng.nextInt(4) == 0) None
          else Some(rng.nextInt(200) + fi * 17)
        val s = words(rng.nextInt(words.size)) + rng.nextInt(10)
        val j = rng.nextInt(200) + fi * 11 // second numeric for attr-attr shapes
        (k, s, j)
      }
      // sort nulls-first so file 3's first 50-row group is null-heavy
      val sorted = if (fi == 3) rows.sortBy(_._1.isEmpty)(Ordering.Boolean.reverse) else rows
      val tmp = s"$base/tmp-$fi"
      sorted.toDF("k", "s", "j").coalesce(1)
        .write.option("parquet.block.row.count.limit", "50")
        .mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, s"f$fi.parquet"))
    }
    val (index, schema) = IndexedParquet.buildIndex(spark, dir, Seq("k", "s", "j"), s"$base/statsdb")
    val (df, fileIndex) = IndexedParquet.read(spark, dir, index, schema)
    (dir, df, fileIndex)
  }

  private def predicates: Seq[(String, Column)] = {
    def klit = rng.nextInt(300)
    Seq(
      ("k = lit", col("k") === klit),
      ("k < lit", col("k") < klit),
      ("k >= lit", col("k") >= klit),
      ("k != lit", col("k") =!= klit),
      ("k is null", col("k").isNull),
      ("k is not null", col("k").isNotNull),
      ("k in (...)", col("k").isin(klit, klit, klit)),
      ("s = lit", col("s") === ("gamma" + rng.nextInt(10))),
      ("s startsWith", col("s").startsWith("de")),
      ("and mix", col("k") > klit && col("s") >= "beta"),
      ("or mix", col("k") < klit || col("s") === ("zeta" + rng.nextInt(10))),
      ("modulo point (prunes narrow groups)", col("k") % 7 === 3),
      ("pmod point", pmod(col("k"), lit(9)) === 2),
      ("modulo unreachable target", col("k") % 5 === 7),
      // affine interval arithmetic (reference conversions.rs:14-32 rows)
      ("k + c < lit", col("k") + 13 < klit),
      ("c - k >= lit", lit(100) - col("k") >= klit),
      ("k * -2 <= lit", col("k") * -2 <= klit),
      ("k / 2.0 > lit (cast through double)", col("k") / 2.0 > klit.toDouble / 2),
      ("-k = lit", -col("k") === -klit),
      ("nested affine", (col("k") + 10) * 3 < klit * 3),
      // CASE translation (reference conversions.rs:73-81)
      ("case bucket = lit",
        when(col("k") < 50, "low").when(col("k") < 150, "mid")
          .otherwise("high") === "mid"),
      ("case bucket != lit",
        when(col("k") < 50, "low").otherwise("high") =!= "low"),
      ("lit = case bucket (flipped)",
        lit("high") === when(col("k") < 150, "low").otherwise("high")),
      ("boolean case as predicate",
        when(col("k") < 100, true).otherwise(false)),
      ("case over nullable col, else-reachable",
        when(col("k") >= 0, "pos").otherwise("neg") === "neg"),
      // general LIKE (reference LikeMatch/NotLikeMatch, conversions.rs:28-29)
      ("like with infix wildcard", col("s").like("de%a2")),
      ("like underscore", col("s").like("gamm_5")),
      ("like no prefix (scan all)", col("s").like("%ta3")),
      ("not like", !col("s").like("alpha%")),
      // attr-attr interval arithmetic (reference conversions.rs:10-32
      // recurses BOTH BinaryExpr operands — e.g. `a + b < 10` translates)
      ("k + j < lit", col("k") + col("j") < klit * 2),
      ("k - j = lit", col("k") - col("j") === klit % 40),
      ("k < j", col("k") < col("j")),
      ("k * j > lit", col("k") * col("j") > klit * 50),
      ("k * (200 - j) >= lit (4-corner)",
        col("k") * (lit(200) - col("j")) >= klit * 20),
      // bit shifts (reference conversions.rs:30-31): >> is floor division,
      // << is translated under the stats' own overflow certificate, >>>
      // under a non-negative-domain certificate
      ("k >> 2 = lit", shiftright(col("k"), 2) === klit / 4),
      ("k >> 3 < lit", shiftright(col("k"), 3) < klit / 8),
      ("k << 2 > lit", shiftleft(col("k"), 2) > klit * 4),
      ("k >>> 2 <= lit", shiftrightunsigned(col("k"), 2) <= klit / 4),
      ("(k + j) >> 1 < lit (nested)",
        shiftright(col("k") + col("j"), 1) < klit),
      // attr/attr division (conversions.rs:20): bounded under the
      // divisor-sign certificate (j > 0 everywhere here); the second
      // shape's divisor interval straddles zero in stats (j - 150.5,
      // never zero in data) so it must conservatively keep
      ("k / j > lit (divisor sign certified)",
        col("k") / col("j") > 1.5),
      ("k / (j - 150.5) > lit (divisor straddles zero: keep)",
        col("k") / (col("j") - 150.5) > 2.0)
    )
  }

  test("every file containing a matching row survives pruning (all shapes x 3 rounds)") {
    val (dir, df, fileIndex) = env
    val plain = spark.read.parquet(dir).withColumn("f", element_at(split(input_file_name(), "/"), -1))
    (1 to 3).foreach { _ =>
      predicates.foreach { case (name, pred) =>
        val expected = plain.filter(pred).select("f").distinct()
          .collect().map(_.getString(0)).toSet
        val got = df.filter(pred).count()
        val want = plain.filter(pred).count()
        assert(got == want, s"[$name] result count through index differs")
        val scanned = fileIndex.lastExecution.get.scannedFiles.toSet
        assert(expected.subsetOf(scanned),
          s"[$name] UNDER-SCAN: expected ${expected -- scanned} to be scanned")
      }
    }
  }

  test("point predicate actually prunes (not everything survives)") {
    val (_, df, fileIndex) = env
    df.filter(col("k") === -999).count()
    assert(fileIndex.lastExecution.get.scannedFiles.isEmpty)
  }

  test("row-group-skip scan + residual filter matches plain scan for every shape") {
    val (dir, _, fileIndex) = env
    val plain = spark.read.parquet(dir)
    val schema = plain.schema
    val index = fileIndexStats(fileIndex)
    predicates.foreach { case (name, pred) =>
      val (df, _) = graft.sources.RowGroupSkipScan.scanWithPredicate(
        spark, dir, index, schema, pred)
      val got = df.count()
      val want = plain.filter(pred).count()
      assert(got == want, s"[$name] RG-skip scan result differs: $got vs $want")
    }
  }

  // ---- r13: monotone-image predicates over time-typed columns ------------

  /** 4000 events at a 20-minute stride (+ sub-second noise) over ~55 days
    * of 1970, in 50-row groups: `tsl` an instant (LTZ micros), `tsn` the
    * same wall time as TIMESTAMP_NTZ, `d` the calendar date, ~5% nulls in
    * each — the fixture for `CAST(ts AS DATE)` / `date_trunc` /
    * `unix_timestamp` predicate pruning through the image rewrite. */
  private lazy val timeEnv: (String, DataFrame, graft.sources.IndexedParquetFileIndex) = {
    val base = tempDir("graft-sound-time")
    val dir = s"$base/data"
    import spark.implicits._
    graft.operators.Indexed.withMicrosTimestamps(spark) {
      (0 until 4000)
        .map { i =>
          val millis = i.toLong * 1200000L + ((i.toLong * 2971L) % 500L) * 1000L + 400L
          (if (i % 20 == 7) None else Some(new java.sql.Timestamp(millis)), i.toLong)
        }
        .toDF("tsl", "id")
        .withColumn("tsn", col("tsl").cast("timestamp_ntz"))
        .withColumn("d", col("tsl").cast("date"))
        .coalesce(1)
        .write.option("parquet.block.row.count.limit", "50")
        .mode("overwrite").parquet(dir)
    }
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("tsl", "tsn", "d", "id"), s"$base/statsdb")
    val (df, fileIndex) = IndexedParquet.read(spark, dir, index, schema)
    (dir, df, fileIndex)
  }

  test("r13: image predicates (castdate/trunc/unixsec) prune soundly and narrow") {
    val (dir, df, fileIndex) = timeEnv
    val plain = spark.read.parquet(dir)
    val total = fileIndex.statsIndex.allFiles().map(_.rowGroupCount).sum
    val d1 = java.sql.Date.valueOf("1970-02-01")
    val d2 = java.sql.Date.valueOf("1970-02-07")
    val monday = java.sql.Timestamp.valueOf("1970-02-02 00:00:00")
    val shapes: Seq[(String, Column)] = Seq(
      ("castdate-eq-ltz", col("tsl").cast("date") === lit(d1)),
      ("castdate-range-ltz", col("tsl").cast("date").between(lit(d1), lit(d2))),
      ("castdate-eq-ntz", col("tsn").cast("date") === lit(d1)),
      ("trunc-day-eq-ltz",
        date_trunc("day", col("tsl")) === lit(java.sql.Timestamp.valueOf("1970-02-01 00:00:00"))),
      ("trunc-week-eq-ltz", date_trunc("week", col("tsl")) === lit(monday)),
      ("trunc-week-eq-ntz", date_trunc("week", col("tsn")) === lit(monday)),
      ("unixsec-range-ltz",
        unix_timestamp(col("tsl")).between(lit(2678400L), lit(2764800L))),
      ("unixsec-lt-ntz", unix_timestamp(col("tsn")) < lit(864000L)),
      ("trunc-date-week", trunc(col("d"), "week") === lit(d2.toLocalDate.minusDays(5))),
      ("castdate-in", col("tsl").cast("date").isin(d1, d2)),
      // calendar unit: no Derby render — must fall to TRUE (full scan), not error
      ("trunc-month-eq-ltz",
        date_trunc("month", col("tsl")) === lit(java.sql.Timestamp.valueOf("1970-02-01 00:00:00"))))
    var narrowed = 0
    shapes.foreach { case (tag, pred) =>
      val got = df.filter(pred).select("id").collect().map(_.getLong(0)).sorted.toSeq
      val want = plain.filter(pred).select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got === want, s"[$tag] image-pruned result diverged")
      assert(want.nonEmpty, s"[$tag] fixture never matched — dead shape")
      val ex = fileIndex.lastExecution.get
      if (ex.scannedRowGroups < total) narrowed += 1
      else assert(tag == "trunc-month-eq-ltz",
        s"[$tag] never narrowed (${ex.scannedRowGroups}/$total)")
    }
    assert(narrowed >= shapes.size - 1,
      s"only $narrowed/${shapes.size} image shapes narrowed")
  }

  test("r13: image predicates stay sound under session-zone changes") {
    val (dir, df, fileIndex) = timeEnv
    val plain = spark.read.parquet(dir)
    val total = fileIndex.statsIndex.allFiles().map(_.rowGroupCount).sum
    val d1 = java.sql.Date.valueOf("1970-02-01")
    def run(tag: String, pred: Column, expectNarrow: Boolean): Unit = {
      val got = df.filter(pred).select("id").collect().map(_.getLong(0)).sorted.toSeq
      val want = plain.filter(pred).select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got === want, s"[$tag] diverged")
      assert(want.nonEmpty, s"[$tag] fixture never matched — dead shape")
      val ex = fileIndex.lastExecution.get
      if (expectNarrow)
        assert(ex.scannedRowGroups < total, s"[$tag] never narrowed")
    }
    // equality literals are derived by folding the SAME shape over a
    // mid-fixture constant, so each predicate matches rows in EVERY zone
    val tsMid = java.sql.Timestamp.valueOf("1970-02-01 06:00:00")
    // a fixed offset: the zoned images fire for LTZ, the shift adapter
    // for NTZ-under-the-analyzer-cast
    graft.operators.Indexed.withSessionTz(spark, "+05:30") {
      run("castdate-eq-ltz@+0530",
        col("tsl").cast("date") === lit(tsMid).cast("date"),
        expectNarrow = true)
      run("trunc-day-ntz@+0530",
        date_trunc("day", col("tsn")) === date_trunc("day", lit(tsMid)),
        expectNarrow = true)
      run("unixsec-ltz@+0530", unix_timestamp(col("tsl")) < lit(864000L),
        expectNarrow = true)
    }
    // a geographic (DST) zone: instant-reading images must NOT fire for
    // LTZ (no monotonicity certificate) — result equality via full scan;
    // zone-free shapes (NTZ cast-date, unixsec over either flavor) still
    // narrow because their semantics ignore the zone
    graft.operators.Indexed.withSessionTz(spark, "America/New_York") {
      run("castdate-ltz@dst",
        col("tsl").cast("date") === lit(tsMid).cast("date"),
        expectNarrow = false)
      run("castdate-ntz@dst", col("tsn").cast("date") === lit(d1),
        expectNarrow = true)
      run("unixsec-ltz@dst", unix_timestamp(col("tsl")) < lit(864000L),
        expectNarrow = true)
    }
  }

  test("r13: the registered image-predicate queries prune the time fixture") {
    Seq("idx38_filter_castdate", "idx39_filter_imgkeys").foreach { name =>
      val q = SparkEntry.registry.find(_.name == name).get
      assert(q.fn(spark, sf("sf0.001")).collect().nonEmpty, s"$name empty")
      val ex = graft.operators.Indexed.lastTimeExecution(spark, sf("sf0.001")).get
      assert(ex.scannedRowGroups < ex.totalRowGroups,
        s"$name never pruned (${ex.scannedRowGroups}/${ex.totalRowGroups})")
    }
  }

  // the spec's env exposes only the FileIndex; reach its StatsIndex
  private def fileIndexStats(fi: graft.sources.IndexedParquetFileIndex) = fi.statsIndex

  test("affine predicate prunes as precisely as its plain equivalent") {
    val (_, df, fileIndex) = env
    df.filter(col("k") === 60).count()
    val plain = fileIndex.lastExecution.get.plans.map(p => p.fileName -> p.scanRowGroups).toMap
    df.filter(col("k") + 1000 === 1060).count()
    val affine = fileIndex.lastExecution.get.plans.map(p => p.fileName -> p.scanRowGroups).toMap
    assert(affine == plain, "shifted point predicate should prune identically")
    df.filter(-col("k") === 999).count() // k = -999: nothing
    assert(fileIndex.lastExecution.get.scannedFiles.isEmpty)
  }

  test("attr-attr sum predicate actually prunes (conversions.rs:10-32)") {
    val (_, df, fileIndex) = env
    // every file has min(k) >= 17 and min(j) >= 11, so k + j < 10 can match
    // nothing; only file 3's all-null-k row group (NULL stats must not
    // prune) may survive
    df.filter(col("k") + col("j") < 10).count()
    val scanned = fileIndex.lastExecution.get.scannedFiles.toSet
    assert(scanned.subsetOf(Set("f3.parquet")),
      s"attr-attr sum should prune all non-null groups, scanned $scanned")
    // 4-corner product: k, j < 450 so k * j can never reach 450 * 450
    df.filter(col("k") * col("j") > 450 * 450).count()
    assert(fileIndex.lastExecution.get.scannedFiles.toSet.subsetOf(Set("f3.parquet")))
  }

  test("attr/attr division prunes when the divisor sign is certified") {
    val (_, df, fileIndex) = env
    // j >= 11 > 0 everywhere (sign certified from the stats themselves);
    // k <= 301, so k / j <= 301/11 < 30 — only file 3's all-null-k row
    // group (NULL stats must not prune) may survive
    df.filter(col("k") / col("j") > 30.0).count()
    val scanned = fileIndex.lastExecution.get.scannedFiles.toSet
    assert(scanned.subsetOf(Set("f3.parquet")),
      s"certified division should prune all non-null groups, scanned $scanned")
  }

  test("shift predicates actually prune (conversions.rs:30-31)") {
    val (_, df, fileIndex) = env
    // k <= 199 + 6*17 = 301 everywhere, so k >> 2 can never reach 100;
    // only file 3's all-null-k group (NULL stats must not prune) survives
    df.filter(shiftright(col("k"), 2) >= 100).count()
    val scanned = fileIndex.lastExecution.get.scannedFiles.toSet
    assert(scanned.subsetOf(Set("f3.parquet")),
      s"right shift should prune all non-null groups, scanned $scanned")
    // k << 2 <= 1204 everywhere and every group certifies overflow-free
    df.filter(shiftleft(col("k"), 2) > 2000).count()
    assert(fileIndex.lastExecution.get.scannedFiles.toSet.subsetOf(Set("f3.parquet")))
  }

  test("CASE predicate prunes like its branch condition (conversions.rs:73-81)") {
    val (_, df, fileIndex) = env
    def plans() = fileIndex.lastExecution.get.plans
      .map(p => p.fileName -> p.scanRowGroups).toMap
    df.filter(col("k") < 50).count()
    val direct = plans()
    df.filter(when(col("k") < 50, "x").otherwise("y") === "x").count()
    val viaCase = plans()
    assert(viaCase == direct,
      "CASE-wrapped comparison must prune exactly like the raw branch condition")
    // before this translation a CASE predicate scanned everything
    val all = fileIndexStats(fileIndex).allFiles()
      .map(p => p.fileName -> p.scanRowGroups).toMap
    assert(viaCase != all, "CASE predicate did not prune at all")
  }

  test("underscore LIKE prunes via its literal prefix (conversions.rs:28)") {
    val (_, df, fileIndex) = env
    def plans() = fileIndex.lastExecution.get.plans
      .map(p => p.fileName -> p.scanRowGroups).toMap
    df.filter(col("s").startsWith("gamm")).count()
    val viaPrefix = plans()
    df.filter(col("s").like("gamm_7")).count() // '_' survives LikeSimplification
    assert(plans() == viaPrefix,
      "LIKE with a wildcard tail must prune exactly like its literal prefix")
  }

  test("unsupported-type column is silently skipped; predicates on it scan all") {
    val base = tempDir("graft-unsup")
    val dir = s"$base/data"
    import spark.implicits._
    Seq((1, Seq(1.0f, 2.0f)), (2, Seq(3.0f, 4.0f)))
      .toDF("id", "vec").write.mode("overwrite").parquet(dir)
    val (index, schema) = IndexedParquet.buildIndex(spark, dir, Seq("id", "vec"), s"$base/statsdb")
    assert(index.indexedSchema.fieldNames.toSeq == Seq("id")) // vec skipped
    val (df, fileIndex) = IndexedParquet.read(spark, dir, index, schema)
    assert(df.filter(size(col("vec")) === 2).count() == 2)
    assert(fileIndex.lastExecution.get.scannedFiles.nonEmpty)
  }
}
