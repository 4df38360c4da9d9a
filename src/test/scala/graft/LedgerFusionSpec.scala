package graft

import graft.index.{BloomProbe, CmsShadow, FileScanPlan, HllShadow, QuantileShadow}
import graft.sources.{IndexedParquet, RowGroupSkipScan}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.SortedSet

/** The per-row-group ledger build (index/LedgerBuild.scala) against an
  * independent reference: every ledger column the catalog holds for a row
  * group equals a driver-side fold of that row group's rows. Frequencies
  * and sums come from a Spark group-by; bloom, HLL, count-min and
  * quantile bytes come from each family's own add/serialize over the
  * collected values, compared byte for byte. Ledger columns nobody asked
  * for stay NULL. A second catalog over the same files, built family by
  * family through the standalone rebuild hooks (one call, one scan per
  * family), must hold exactly the same ledgers. Also pins that one rebuild
  * hook call is one Spark job, however many columns it covers.
  */
class LedgerFusionSpec extends SparkSpec {

  private val RowsPerGroup = 100

  // fixture: 2 files x 2 row groups of 100 rows; k integral (dominant
  // min/max runs), s strings with nulls, z all-null long, q doubles with
  // a NaN sprinkle (quantile must skip them)
  private lazy val env = {
    val base = tempDir("graft-lfuse")
    val dir = s"$base/data"
    Files.createDirectories(Paths.get(dir))
    import spark.implicits._
    (0 until 2).foreach { fi =>
      val rows = (0 until 200).map { j =>
        val i = fi * 200 + j
        (i % 300,
          if (i % 4 == 0) None else Some(s"s${i % 50}"),
          None: Option[Long],
          if (i % 37 == 0) Double.NaN else (i % 97).toDouble)
      }
      val tmp = s"$base/tmp-$fi"
      rows.toDF("k", "s", "z", "q").coalesce(1)
        .write.option("parquet.block.row.count.limit", RowsPerGroup.toString)
        .mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, s"f$fi.parquet"))
    }
    val db = s"$base/db"
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("k", "s", "z", "q"), db, bloomCols = Seq("k", "s"))
    index.rebuildLedgers(spark, dir, index.allFiles(), schema,
      freqCols = Seq("k", "s"), sumCols = Seq("k"),
      hllCols = Seq("k", "s", "z"), quantileCols = Seq("k", "q"),
      cmsCols = Seq("k", "s"), blooms = true)
    (dir, index, schema, db)
  }

  /** The same files indexed family by family: blooms at index build, then
    * one standalone rebuild hook call per remaining family. */
  private lazy val standalone = {
    val (dir, _, _, _) = env
    val db = s"${tempDir("graft-lfuse-sep")}/db"
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("k", "s", "z", "q"), db, bloomCols = Seq("k", "s"))
    index.rebuildShadows(spark, dir, index.allFiles(), schema,
      freqCols = Seq("k", "s"), sumCols = Seq("k"))
    index.rebuildHll(spark, dir, index.allFiles(), schema, Seq("k", "s", "z"))
    index.rebuildQuantiles(spark, dir, index.allFiles(), schema, Seq("k", "q"))
    index.rebuildCms(spark, dir, index.allFiles(), schema, Seq("k", "s"))
    (index, db)
  }

  /** Every ledger column the catalog can hold for this schema: the
    * requested ones, plus z's freq/sum/quantile/count-min, never asked for. */
  private val ledgerCols = Seq(
    "k_bloom", "s_bloom", "k_min_freq", "k_max_freq", "s_min_freq", "s_max_freq",
    "z_min_freq", "z_max_freq", "k_sum", "z_sum", "k_hll", "s_hll", "z_hll",
    "k_qsk", "q_qsk", "z_qsk", "k_cms", "s_cms", "z_cms")

  private type Group = (String, Int)

  private def fileOf(path: String): String = new org.apache.hadoop.fs.Path(path).getName

  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case n: java.lang.Number => n.longValue
    case other => other
  }

  /** (file name, row group) → ledger column → stored value, over JDBC. */
  private def catalogLedgers(db: String): Map[Group, Map[String, Any]] = {
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db")
    try {
      val rs = conn.createStatement().executeQuery(
        s"""SELECT f.file_name, rg.row_group, ${ledgerCols.map("rg." + _).mkString(", ")}
           |FROM row_group_statistics rg
           |JOIN file_statistics f ON rg.file_id = f.file_id""".stripMargin)
      val out = Map.newBuilder[Group, Map[String, Any]]
      while (rs.next()) {
        val g = (fileOf(rs.getString(1)), rs.getInt(2))
        out += g -> ledgerCols.zipWithIndex.map { case (c, i) =>
          c -> norm(rs.getObject(i + 3))
        }.toMap
      }
      out.result()
    } finally conn.close()
  }

  /** The fixture's rows, each tagged with its file and row group. */
  private def rowGroupsOf(dir: String) = spark.read.parquet(dir).select(
    col("_metadata.file_name").as("file"),
    floor(col("_metadata.row_index") / RowsPerGroup).cast("int").as("rg"),
    col("k"), col("s"), col("z"), col("q"))

  /** The same ledgers folded on the driver from the data itself. */
  private def reference(dir: String): Map[Group, Map[String, Any]] = {
    val data = rowGroupsOf(dir)
    def key(r: Row): Group = (r.getString(0), r.getInt(1))

    // rows at each group's real min / max, and the group's sum
    def freq(c: String): Map[Group, (Any, Any)] = {
      val ext = data.groupBy("file", "rg").agg(min(c).as("mn"), max(c).as("mx"))
      data.join(ext, Seq("file", "rg")).groupBy("file", "rg").agg(
        first("mn").as("mn"),
        sum(when(col(c) === col("mn"), 1L).otherwise(0L)),
        sum(when(col(c) === col("mx"), 1L).otherwise(0L)))
        .collect().map(r => key(r) ->
          (if (r.isNullAt(2)) (null, null) else (r.getLong(3), r.getLong(4)))).toMap
    }
    val sums = data.groupBy("file", "rg").agg(coalesce(sum(col("k").cast("long")), lit(0L)))
      .collect().map(r => key(r) -> r.getLong(2)).toMap
    val freqs = Seq("k", "s").map(c => c -> freq(c)).toMap

    // sketches from the collected values, through each family's own code
    val guarded = (c: String) => when(col(c).isNotNull, xxhash64(col(c)))
    val rows = data.select(col("file"), col("rg"), col("k"), col("s"),
        guarded("k"), guarded("s"), guarded("z"), col("q"))
      .collect().groupBy(key)
    rows.map { case (g, rs) =>
      def values(i: Int): Seq[Any] = rs.toSeq.filterNot(_.isNullAt(i)).map(_.get(i))
      def bloom(i: Int): Seq[Byte] = {
        val b = BloomProbe.create(rs.length.toLong)
        values(i).foreach(BloomProbe.put(b, _))
        BloomProbe.serialize(b).toSeq
      }
      def hll(i: Int): Seq[Byte] = {
        val regs = new Array[Byte](HllShadow.M)
        values(i).foreach(h => HllShadow.add(regs, h.asInstanceOf[Long]))
        regs.toSeq
      }
      def cms(i: Int): Seq[Byte] = {
        val counts = new Array[Int](CmsShadow.Depth * CmsShadow.Width)
        values(i).foreach(h => CmsShadow.add(counts, h.asInstanceOf[Long]))
        CmsShadow.serialize(counts).toSeq
      }
      def qsk(i: Int): Seq[Byte] = {
        val sorted = values(i).map(v => v.asInstanceOf[Number].doubleValue)
          .filterNot(_.isNaN).toArray
        java.util.Arrays.sort(sorted)
        val (pts, count) = QuantileShadow.summarize(sorted)
        QuantileShadow.serialize(pts, count).toSeq
      }
      g -> Map[String, Any](
        "k_bloom" -> bloom(2), "s_bloom" -> bloom(3),
        "k_min_freq" -> freqs("k")(g)._1, "k_max_freq" -> freqs("k")(g)._2,
        "s_min_freq" -> freqs("s")(g)._1, "s_max_freq" -> freqs("s")(g)._2,
        "z_min_freq" -> null, "z_max_freq" -> null,
        "k_sum" -> sums(g), "z_sum" -> null,
        "k_hll" -> hll(4), "s_hll" -> hll(5), "z_hll" -> hll(6),
        "k_qsk" -> qsk(2), "q_qsk" -> qsk(7), "z_qsk" -> null,
        "k_cms" -> cms(4), "s_cms" -> cms(5), "z_cms" -> null)
    }
  }

  test("every ledger column equals a driver-side fold of its row group") {
    val (dir, index, schema, db) = env
    val want = reference(dir)
    val got = catalogLedgers(db)
    assert(got.keySet == want.keySet && got.size == 4, s"row groups ${got.keySet}")
    for (g <- want.keys.toSeq.sorted; c <- ledgerCols)
      assert(got(g)(c) == want(g)(c), s"$c differs from the reference in $g")

    // the public API reads the same ledgers: per-group estimates equal the
    // reference sketches' own estimates
    val slices = index.allFiles().flatMap(p =>
      p.scanRowGroups.toSeq.map(rg => p.copy(scanRowGroups = SortedSet(rg))))
    for (p <- slices) {
      val g = (fileOf(p.fileName), p.scanRowGroups.head)
      val plans = Some(Seq(p))
      for (c <- Seq("k", "s", "z")) {
        val regs = want(g)(s"${c}_hll").asInstanceOf[Seq[Byte]].toArray
        assert(index.approxDistinct(c, plans) == Some(HllShadow.estimate(regs)), s"hll($c) in $g")
      }
      for (c <- Seq("k", "q")) {
        val summary = QuantileShadow.deserialize(want(g)(s"${c}_qsk").asInstanceOf[Seq[Byte]].toArray)
        val qs = Seq(0.1, 0.5, 0.9)
        assert(index.approxQuantiles(c, qs, plans) ==
          Some(qs.map(q => QuantileShadow.quantile(Seq(summary), q).get)), s"qsk($c) in $g")
      }
    }
    assert(index.totalSum("k") == Some((want.values.map(_("k_sum").asInstanceOf[Long]).sum, 400L)))
    // z is all-null: its HLL estimates 0; q was not a count-min column
    assert(index.approxDistinct("z") == Some(0L))
    assert(index.approxFrequency("q", 1.0) == None)
    // bloom pruning keeps every row group that holds the probed key
    val keys = rowGroupsOf(dir).select("file", "rg", "k").collect()
      .map(r => (r.getInt(2), (r.getString(0), r.getInt(1))))
    for (v <- Seq(0, 5, 77, 299)) {
      val kept = index.getFiles(RowGroupSkipScan.resolvePredicate(spark, schema, col("k") === v))
        .flatMap(p => p.scanRowGroups.toSeq.map(rg => (fileOf(p.fileName), rg))).toSet
      val holding = keys.collect { case (`v`, g) => g }.toSet
      assert(holding.nonEmpty && holding.subsetOf(kept), s"bloom pruning dropped k=$v")
    }
  }

  test("fused build equals standalone builds on every ledger and row group") {
    val (_, fus, schema, fusDb) = env
    val (sep, sepDb) = standalone
    val a = catalogLedgers(sepDb)
    val b = catalogLedgers(fusDb)
    assert(a.keySet == b.keySet && a.size == 4, s"row groups ${a.keySet} vs ${b.keySet}")
    for (g <- a.keys.toSeq.sorted; c <- ledgerCols)
      assert(a(g)(c) == b(g)(c), s"$c diverges in $g")

    // through the public API, per row group and over the whole table
    val slices = sep.allFiles().flatMap(p =>
      p.scanRowGroups.toSeq.map(rg => Seq(p.copy(scanRowGroups = SortedSet(rg)))))
    for (plans <- slices.map(Option(_)) :+ (None: Option[Seq[FileScanPlan]])) {
      for (c <- Seq("k", "s", "z"))
        assert(sep.approxDistinct(c, plans) == fus.approxDistinct(c, plans),
          s"hll($c) diverges on $plans")
      for (c <- Seq("k", "q"))
        assert(sep.approxQuantiles(c, Seq(0.1, 0.5, 0.9), plans) ==
          fus.approxQuantiles(c, Seq(0.1, 0.5, 0.9), plans), s"qsk($c) diverges on $plans")
      for ((c, v) <- Seq(("k", 5), ("s", "s7")))
        assert(sep.approxFrequency(c, v, plans) == fus.approxFrequency(c, v, plans),
          s"cms($c=$v) diverges on $plans")
    }
    for (c <- Seq("k", "s")) {
      def shadows(ix: graft.index.StatsIndex) = ix.rowGroupStats(c).get.map(s =>
        (s.fileName, s.rowGroup, s.minFreq, s.maxFreq, s.sumVal)).sorted
      assert(shadows(sep) == shadows(fus), s"freq/sum shadows diverge for $c")
    }
    assert(sep.totalSum("k") == fus.totalSum("k"))
    def plansOf(ix: graft.index.StatsIndex, v: Int) =
      ix.getFiles(RowGroupSkipScan.resolvePredicate(spark, schema, col("k") === v))
        .map(p => (p.fileName, p.scanRowGroups)).sortBy(_._1)
    for (v <- Seq(0, 5, 77, 299, 12345))
      assert(plansOf(sep, v) == plansOf(fus, v), s"bloom pruning diverges at k=$v")
  }

  test("all-null and empty-family groups behave like the standalone builds") {
    val (_, fus, _, fusDb) = env
    val (sep, sepDb) = standalone
    // z is all-null: HLL estimates 0 in both; freq/sum/quantile/count-min
    // were never requested for z, so those columns stay NULL in both
    assert(fus.approxDistinct("z") == Some(0L))
    assert(sep.approxDistinct("z") == fus.approxDistinct("z"))
    for ((g, ledgers) <- catalogLedgers(sepDb) ++ catalogLedgers(fusDb);
         c <- Seq("z_min_freq", "z_max_freq", "z_sum", "z_qsk", "z_cms"))
      assert(ledgers(c) == null, s"$c is set in $g")
    // q was not a count-min column: both catalogs decline
    assert(fus.approxFrequency("q", 1.0) == None)
    assert(sep.approxFrequency("q", 1.0) == fus.approxFrequency("q", 1.0))
  }

  test("one rebuild call is one Spark job, however many columns it covers") {
    val (dir, index, schema, _) = env
    val plans: Seq[FileScanPlan] = index.allFiles()
    assert(jobsDuring(index.rebuildBlooms(spark, dir, plans, schema)) == 1)
    assert(jobsDuring(index.rebuildShadows(spark, dir, plans, schema,
      freqCols = Seq("k", "s"), sumCols = Seq("k"))) == 1)
  }
}
