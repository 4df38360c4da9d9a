package graftbench

import graft.index.{DerbyStatsIndex, RowLevelIndex, StatsIndex}
import graft.sources.{Compaction, IndexedParquet, IndexedParquetFileIndex}
import graft.streaming.IndexedSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Result of one run: end-to-end metrics (untraced) or per-layer metrics
  * (traced), plus diagnostics that are never compared across runs. */
final case class Result(attempted: Int, failed: Int, metrics: Seq[(String, Double, String)],
    diagnostics: Seq[(String, Double)], errors: Seq[String])

/** One index build: the raw catalog, where its table and artefacts live,
  * and the milliseconds of its three phases (stats, ledgers, postings). */
final case class Built(index: StatsIndex, schema: StructType, dir: String, db: String,
    post: String, parts: (Double, Double, Double))

/** Runs one workload once: generate (untimed), set up several times (timed),
  * warm up, run the fixed op sequence, and measure. With `trace`, each read
  * runs twice, untraced and through the timing wrapper with Spark listeners
  * on; both runs must choose the same files, row groups and graft rules. */
final class Runner(spark: SparkSession, w: Workload, seed: Long, seconds: Int, trace: Boolean,
    work: Path, setups: Int = 3) {
  private val shape = w.shape(seconds)
  private val gen = Gen(seed, shape.universe, shape.rowsPerRg, shape.rowsPerDay)
  private val dataDir = work.resolve("data").toString
  private val sideDir = work.resolve("side").toString
  private val poolDir = work.resolve("pool")
  private val srcDir = work.resolve("incoming").toString
  private val ckptDir = work.resolve("checkpoint").toString
  private val cols = gen.columns
  private val errors = ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0
  private def fail(msg: String): Unit = { failed += 1; if (errors.size < 20) errors += msg }

  private def ms(ns: Long): Double = ns / 1e6
  private val born = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"graftbench ${(System.nanoTime() - born) / 1e9}%7.2fs ${w.name}: $msg")

  // ---- inputs ---------------------------------------------------------------

  private def generate(): Unit = {
    gen.write(spark, 0, shape.baseRows, shape.baseFiles, dataDir, "part")
    // one file per append, in append order
    gen.write(spark, shape.baseRows, shape.universe, shape.appends, poolDir.toString, "a")
    Files.createDirectories(Paths.get(srcDir))
  }

  // ---- set-up: Parquet on disk to index ready ------------------------------

  private val setupParts = ArrayBuffer.empty[(Double, Double, Double)]

  private def build(name: String, dir: String = dataDir): Built = {
    val db = work.resolve(s"catalog-$name").toString
    val post = work.resolve(s"postings-$name").toString
    val t0 = System.nanoTime()
    val (index, schema) = IndexedParquet.buildIndex(spark, dir, cols, db, shape.bloomCols)
    val t1 = System.nanoTime()
    if ((shape.freqCols ++ shape.sumCols ++ shape.hllCols ++ shape.quantileCols ++
        shape.cmsCols).nonEmpty)
      index.rebuildLedgers(spark, dir, index.allFiles(), schema, shape.freqCols,
        shape.sumCols, shape.hllCols, shape.quantileCols, shape.cmsCols, blooms = false)
    val t2 = System.nanoTime()
    shape.rowLevel.foreach(c =>
      RowLevelIndex.build(spark, dir, index.allFiles(), schema, c, s"$post/$c"))
    val t3 = System.nanoTime()
    Built(index, schema, dir, db, post, (ms(t1 - t0), ms(t2 - t1), ms(t3 - t2)))
  }

  private def drop(b: Built): Unit = {
    b.index.close()
    DerbyStatsIndex.shutdownDatabase(b.db)
    Seq(b.db, b.post).foreach(p => Runner.deleteTree(Paths.get(p)))
  }

  // ---- measured state -------------------------------------------------------

  private val readNs = ArrayBuffer.empty[Long]
  private val readKinds = ArrayBuffer.empty[String]
  private val appendNs = ArrayBuffer.empty[Long]
  private var appendedRows = 0L // by measured appends
  private var writtenRows = 0L  // by every append
  private var opsStart = -1L
  private var opsEnd = -1L

  private val tracer = if (trace) Some(new Tracer(spark)) else None
  private val layer = new LayerSums
  private var tracedOps = 0
  private var tracedReads = 0
  private var tracedAppends = 0
  private var compactions = 0
  private val overheadNs = ArrayBuffer.empty[(Long, Long)] // (untraced, traced)
  private var pairs = 0

  private final case class Rel(df: DataFrame, fi: IndexedParquetFileIndex, index: StatsIndex)

  private def sig(fi: IndexedParquetFileIndex): String = fi.lastExecution.map(e =>
    e.plans.map(p => p.fileName + p.scanRowGroups.mkString("[", ",", "]")).sorted.mkString(";")
  ).getOrElse("-")

  /** Runs a read once; returns (nanos, plan signature, rules fired, rows). */
  private def once(r: Read, rel: Rel): (Long, String, Set[String], Array[org.apache.spark.sql.Row], DataFrame) = {
    rel.fi.lastExecution = None
    val m0 = RuleMeter.snapshot()
    val t0 = System.nanoTime()
    val q = r.query(rel.df)
    val rows = q.collect()
    val dt = System.nanoTime() - t0
    (dt, sig(rel.fi), RuleMeter.fired(m0, RuleMeter.snapshot()), rows, q)
  }

  private def check(r: Read, rows: Array[org.apache.spark.sql.Row], fired: Set[String]): Unit = {
    attempted += 1
    val got = Workload.canon(rows.toSeq, r.ordered)
    val want = r.expected()
    if (got != want)
      fail(s"${r.kind}: wrong answer (${got.size} rows, expected ${want.size}): ${got.take(3)} vs ${want.take(3)}")
    else r.target.foreach { t =>
      if (t.isEmpty && fired.nonEmpty) fail(s"${r.kind}: expected no graft rule, fired ${fired.mkString(",")}")
      if (t.nonEmpty && !fired.contains(t)) fail(s"${r.kind}: rule $t did not fire (fired: ${fired.mkString(",")})")
    }
  }

  private def runRead(r: Read, raw: Rel, timed: Option[Rel], measured: Boolean): Unit = timed match {
    case None =>
      val (dt, _, fired, rows, _) = once(r, raw)
      check(r, rows, fired)
      if (measured) { readNs += dt; readKinds += r.kind }
    case Some(t) =>
      val tr = tracer.get
      pairs += 1
      val first = pairs % 2 == 0
      def untraced() = { val o = once(r, raw); tr.drain(); o }
      def traced() = {
        val i0 = tr.index.snapshot(); val e0 = tr.exec.snapshot(); val m0 = RuleMeter.snapshot()
        tr.exec.on = true
        val o = once(r, t)
        tr.drain()
        tr.exec.on = false
        (o, (i0, tr.index.snapshot()), (e0, tr.exec.snapshot()), (m0, RuleMeter.snapshot()))
      }
      val (a, b) = if (first) { val x = untraced(); (x, traced()) } else { val y = traced(); (untraced(), y) }
      val ((tdt, tsig, tfired, trows, tq), (i0, i1), (e0, e1), (m0, m1)) = b
      check(r, a._4, a._3)
      check(r, trows, tfired)
      if (a._2 != tsig) fail(s"${r.kind}: traced run scanned different row groups")
      if (a._3 != tfired) fail(s"${r.kind}: traced run fired ${tfired.mkString(",")}, untraced ${a._3.mkString(",")}")
      if (measured) {
        readNs += a._1; readKinds += r.kind
        overheadNs += ((a._1, tdt))
        tracedReads += 1
        tracedOps += 1
        addIndex(i0, i1)
        addExec(e0, e1)
        addRules(m0, m1)
        val ph = tq.queryExecution.tracker.phases
        Seq("analysis", "optimization", "planning").foreach(p =>
          layer.add(s"planner.${p}_ms", ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)))
        t.fi.lastExecution.foreach { e =>
          layer.add("sources.files_selected", e.plans.size)
          layer.add("sources.files_total", e.totalFiles)
          layer.add("sources.rowgroups_selected", e.scannedRowGroups)
          layer.add("sources.rowgroups_total", e.totalRowGroups)
        }
        layer.add("result_rows", trows.length)
        // the true count costs an unindexed read: sample every 4th read
        if (tracedReads % 4 == 1) r.pred.foreach { p =>
          layer.add("overscan.selected", t.fi.lastExecution.map(_.scannedRowGroups.toDouble).getOrElse(0.0))
          layer.add("overscan.true", trueRowGroups(p))
        }
      }
  }

  private def addIndex(a: Map[String, (Long, Long, Long)], b: Map[String, (Long, Long, Long)]): Unit =
    Runner.indexGroups.foreach { g =>
      val (c0, n0, r0) = a.getOrElse(g, (0L, 0L, 0L)); val (c1, n1, r1) = b.getOrElse(g, (0L, 0L, 0L))
      layer.add(s"index.$g.calls", c1 - c0); layer.add(s"index.$g.ms", ms(n1 - n0))
      layer.add(s"index.$g.rows", r1 - r0)
    }
  private def addExec(a: Array[Long], b: Array[Long]): Unit = {
    Seq("jobs", "stages", "tasks", "task_ms", "shuffle_bytes").zipWithIndex.foreach { case (n, i) =>
      layer.add(s"exec.$n", b(i) - a(i))
    }
    layer.add("sources.bytes_read", b(5) - a(5))
    layer.add("records_read", b(6) - a(6))
  }
  private def addRules(a: Map[String, (Long, Long, Long)], b: Map[String, (Long, Long, Long)]): Unit =
    RuleMeter.rules.foreach { r =>
      layer.add(s"plans.$r.ms", ms(b(r)._1 - a(r)._1))
      layer.add(s"plans.$r.runs", b(r)._2 - a(r)._2)
      layer.add(s"plans.$r.effective", b(r)._3 - a(r)._3)
    }

  /** Row groups that truly hold a row matching `p`, from one unindexed read
    * of the table directory with Parquet's row index and footers. */
  private val footerStarts = scala.collection.mutable.Map.empty[String, Array[Long]]
  private def trueRowGroups(p: org.apache.spark.sql.Column): Int = {
    val hits = spark.read.parquet(dataDir).filter(p)
      .select(col("_metadata.file_name"), col("_metadata.row_index")).collect()
    hits.map { h =>
      val f = h.getString(0)
      val starts = footerStarts.getOrElseUpdate(f, Runner.rowGroupStarts(spark, s"$dataDir/$f"))
      val rg = java.util.Arrays.binarySearch(starts, h.getLong(1))
      (f, if (rg >= 0) rg else -rg - 2)
    }.distinct.length
  }

  // ---- writes ---------------------------------------------------------------

  private def append(i: Int, b: Built, index: StatsIndex, measured: Boolean): Unit = {
    attempted += 1
    Files.move(poolDir.resolve(f"a-$i%05d.parquet"), Paths.get(srcDir, s"a$i.parquet"))
    tracer.foreach { tr => tr.drain(); tr.exec.on = true }
    val i0 = tracer.map(_.index.snapshot()); val e0 = tracer.map(_.exec.snapshot())
    val t0 = System.nanoTime()
    val q = IndexedSink.start(spark.readStream.schema(b.schema).parquet(srcDir), b.dir, index,
      cols, ckptDir, rowLevel = shape.rowLevel.map(c => c -> s"${b.post}/$c").toMap,
      freqShadowCols = shape.freqCols, sumShadowCols = shape.sumCols,
      hllShadowCols = shape.hllCols, quantileShadowCols = shape.quantileCols,
      cmsShadowCols = shape.cmsCols)
    val t1 = System.nanoTime()
    q.awaitTermination()
    val dt = System.nanoTime() - t0
    val rows = q.recentProgress.map(_.numInputRows).sum
    q.exception.foreach(e => fail(s"append $i: ${e.getMessage}"))
    if (rows != shape.appendRows) fail(s"append $i: sink read $rows rows, expected ${shape.appendRows}")
    writtenRows += rows
    if (measured) {
      appendNs += dt
      appendedRows += rows
    }
    tracer.foreach { tr =>
      tr.drain(); tr.exec.on = false
      if (measured) {
        tracedOps += 1; tracedAppends += 1
        addIndex(i0.get, tr.index.snapshot()); addExec(e0.get, tr.exec.snapshot())
        layer.add("streaming.start_ms", ms(t1 - t0))
        Seq("queryPlanning", "addBatch", "walCommit", "commitOffsets").foreach { k =>
          layer.add(s"streaming.${k}_ms",
            q.recentProgress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum)
        }
      }
    }
  }

  private def compact(b: Built, index: StatsIndex, threshold: Long): Unit = {
    attempted += 1
    val before = Runner.parquetFiles(dataDir)
    tracer.foreach { tr => tr.drain(); tr.exec.on = true }
    val i0 = tracer.map(_.index.snapshot()); val e0 = tracer.map(_.exec.snapshot())
    val t0 = System.nanoTime()
    val bins = Compaction.compactIndexed(spark, dataDir, index, cols,
      targetBytes = 64L << 20, smallThresholdBytes = threshold,
      rowLevel = shape.rowLevel.map(c => c -> s"${b.post}/$c").toMap,
      freqShadowCols = shape.freqCols, sumShadowCols = shape.sumCols,
      hllShadowCols = shape.hllCols, quantileShadowCols = shape.quantileCols,
      cmsShadowCols = shape.cmsCols)
    val dt = System.nanoTime() - t0
    if (bins != 1) fail(s"compaction wrote $bins files, expected 1")
    compactions += 1
    tracer.foreach { tr =>
      tr.drain(); tr.exec.on = false
      tracedOps += 1
      addIndex(i0.get, tr.index.snapshot()); addExec(e0.get, tr.exec.snapshot())
      val after = Runner.parquetFiles(dataDir).keySet
      layer.add("sources.compact_ms", ms(dt))
      layer.add("sources.compact_bytes_rewritten",
        before.filter { case (f, _) => !after.contains(f) }.values.sum.toDouble)
    }
  }

  // ---- the run --------------------------------------------------------------

  def run(): Result = {
    generate()
    log("generated")
    val setupS = ArrayBuffer.empty[Double]
    var built: Built = null
    (0 until setups).foreach { i =>
      if (built != null) drop(built)
      val t0 = System.nanoTime()
      built = build(i.toString)
      setupS += (System.nanoTime() - t0) / 1e9
      setupParts += built.parts
      log(f"setup $i: ${setupS.last}%.3f s")
    }
    val b = built
    attempted += 1
    val want = shape.baseRows
    val counted = b.index.totalRowCount()
    if (!counted.contains(want)) fail(s"setup: catalog holds $counted rows, expected $want")

    val rl = shape.rowLevel.map(c => c -> s"${b.post}/$c").toMap
    def rel(ix: StatsIndex) = {
      val (df, fi) = IndexedParquet.read(spark, dataDir, ix, b.schema, rowLevelIndexes = rl)
      Rel(df, fi, ix)
    }
    val raw = rel(b.index)
    val timed = tracer.map(tr => rel(new TimedIndex(b.index, tr.index)))
    val writeIndex = timed.map(_.index).getOrElse(b.index)
    // appends go to the read table, or to a side table (one copy of a base
    // file, indexed alike, untimed) that no read checks against
    val (target, targetIndex) = if (!shape.sideTable) (b, writeIndex) else {
      Files.createDirectories(Paths.get(sideDir))
      val first = Runner.parquetFiles(dataDir).keys.min
      Files.copy(Paths.get(dataDir, first), Paths.get(sideDir, first))
      val s = build("side", sideDir)
      (s, tracer.map(tr => new TimedIndex(s.index, tr.index)).getOrElse(s.index))
    }
    val targetBase = spark.read.parquet(target.dir).count()
    val plainDf = spark.read.parquet(dataDir)
    val ctx = Ctx(spark, gen, shape, () => plainDf, new scala.util.Random(seed * 31 + 5))
    val (warm, ops) = w.plan(ctx, seconds)
    // answers derived from the unindexed table are computed before any write
    (warm ++ ops).foreach { case r: Read => r.expected(); case _ => () }
    // compaction folds the sink's small files, never the base table's
    val threshold = (Runner.parquetFiles(poolDir.toString).values.maxOption.getOrElse(0L) +
      Runner.parquetFiles(dataDir).values.min) / 2

    log(s"answers ready; ${warm.size} warm-up ops, ${ops.size} ops")
    warm.foreach {
      case r: Read => runRead(r, raw, None, measured = false)
      case Append(i, _) => append(i, target, targetIndex, measured = false)
      case Compact => compact(b, writeIndex, threshold)
    }
    log("warmed up")
    val gc0 = Jvm.gc()
    opsStart = System.nanoTime()
    ops.foreach {
      case r: Read => runRead(r, raw, timed, measured = true)
      case Append(i, m) => append(i, target, targetIndex, measured = m)
      case Compact => compact(b, writeIndex, threshold)
    }
    opsEnd = System.nanoTime()
    log("ops done")
    val gc1 = Jvm.gc()

    // end state: every row the run wrote is visible through the catalog
    attempted += 1
    val total = targetBase + writtenRows
    if (!target.index.totalRowCount().contains(total) ||
        spark.read.parquet(target.dir).count() != total)
      fail(s"end: catalog or table does not hold the $total rows written")
    if (target ne b) drop(target)
    val heap = Jvm.liveHeapMb()
    b.index.close()
    val catalogBytes = Runner.catalogBytes(b.db)
    val dataBytes = Runner.parquetFiles(dataDir).values.sum

    val reads = readNs.size
    val sorted = readNs.sorted.toArray
    val p90i = math.ceil(0.9 * reads).toInt - 1
    if (reads - 1 - p90i < 10) fail(s"$reads reads are too few for p90")
    val diag = ArrayBuffer.empty[(String, Double)]
    readKinds.zip(readNs).groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      diag += s"read_ms.$k" -> Runner.median(xs.map(x => ms(x._2)).toSeq)
      diag += s"read_share.$k" -> xs.size.toDouble / reads
    }
    setupS.zipWithIndex.foreach { case (s, i) => diag += s"setup_s.$i" -> s }
    diag += "catalog_bytes" -> catalogBytes.toDouble
    diag += "data_bytes" -> dataBytes.toDouble
    diag += "reads" -> reads.toDouble
    diag += "appends" -> appendNs.size.toDouble
    appendNs.zipWithIndex.foreach { case (x, i) => diag += s"append_ms.$i" -> ms(x) }

    val metrics =
      if (!trace) Seq(
        ("setup_s", Runner.median(setupS.toSeq), "s"),
        ("query_p50_ms", Runner.median(readNs.map(x => ms(x)).toSeq), "ms"),
        ("query_p90_ms", ms(sorted(math.max(0, p90i))), "ms"),
        ("query_qps", reads / (readNs.sum / 1e9), "1/s"),
        ("append_p50_ms", Runner.median(appendNs.map(x => ms(x)).toSeq), "ms"),
        ("ingest_rows_per_s", appendedRows / ((opsEnd - opsStart) / 1e9), "1/s"),
        ("index_bytes_per_data_byte", catalogBytes.toDouble / dataBytes, "ratio"),
        ("heap_mb", heap, "MB"))
      else traceMetrics(gc1._1 - gc0._1, gc1._2 - gc0._2)
    Result(attempted, failed, metrics, diag.toSeq, errors.toSeq)
  }

  private def traceMetrics(gcMs: Long, gcCount: Long): Seq[(String, Double, String)] = {
    val ops = math.max(1, tracedOps).toDouble
    val readsN = math.max(1, tracedReads).toDouble
    val out = ArrayBuffer.empty[(String, Double, String)]
    Runner.indexGroups.foreach { g =>
      out += ((s"index.$g.calls", layer.get(s"index.$g.calls") / ops, "count"))
      out += ((s"index.$g.ms", layer.get(s"index.$g.ms") / ops, "ms"))
      out += ((s"index.$g.rows", layer.get(s"index.$g.rows") / ops, "count"))
    }
    Seq("files_selected", "files_total", "rowgroups_selected", "rowgroups_total").foreach(n =>
      out += ((s"sources.$n", layer.get(s"sources.$n") / readsN, "count")))
    out += (("sources.bytes_read", layer.get("sources.bytes_read") / ops, "bytes"))
    out += (("sources.rows_read_per_result",
      layer.get("records_read") / math.max(1.0, layer.get("result_rows")), "ratio"))
    out += (("sources.overscan_ratio",
      layer.get("overscan.selected") / math.max(1.0, layer.get("overscan.true")), "ratio"))
    val nc = math.max(1, compactions).toDouble
    out += (("sources.compact_ms", layer.get("sources.compact_ms") / nc, "ms"))
    out += (("sources.compact_bytes_rewritten", layer.get("sources.compact_bytes_rewritten") / nc, "bytes"))
    RuleMeter.rules.foreach { r =>
      out += ((s"plans.$r.ms", layer.get(s"plans.$r.ms") / readsN, "ms"))
      out += ((s"plans.$r.runs", layer.get(s"plans.$r.runs") / readsN, "count"))
      out += ((s"plans.$r.effective", layer.get(s"plans.$r.effective") / readsN, "count"))
    }
    Seq("analysis", "optimization", "planning").foreach(p =>
      out += ((s"planner.${p}_ms", layer.get(s"planner.${p}_ms") / readsN, "ms")))
    Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count", "task_ms" -> "ms",
      "shuffle_bytes" -> "bytes").foreach { case (n, u) =>
      out += ((s"exec.$n", layer.get(s"exec.$n") / ops, u))
    }
    val na = math.max(1, tracedAppends).toDouble
    Seq("start", "queryPlanning", "addBatch", "walCommit", "commitOffsets").foreach(k =>
      out += ((s"streaming.${k}_ms", layer.get(s"streaming.${k}_ms") / na, "ms")))
    out += (("jvm.gc_ms", gcMs.toDouble, "ms"))
    out += (("jvm.gc_count", gcCount.toDouble, "count"))
    val sp = setupParts.toSeq
    out += (("setup.index_ms", Runner.median(sp.map(_._1)), "ms"))
    out += (("setup.ledgers_ms", Runner.median(sp.map(_._2)), "ms"))
    out += (("setup.postings_ms", Runner.median(sp.map(_._3)), "ms"))
    val untr = Runner.median(overheadNs.map(_._1.toDouble).toSeq)
    val tr = Runner.median(overheadNs.map(_._2.toDouble).toSeq)
    out += (("trace.overhead_pct", if (untr > 0) (tr / untr - 1) * 100 else 0.0, "%"))
    out.toSeq
  }
}

object Runner {
  val indexGroups: Seq[String] = Seq("getFiles", "allFiles", "topK", "rowGroupStats",
    "aggregates", "ingestAll", "removeFiles", "rebuild", "other")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def parquetFiles(dir: String): Map[String, Long] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Map.empty
    else Files.list(d).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> Files.size(p)).toMap
  }

  /** Bytes of the catalog's tables and their indexes, measured so that the
    * same content always measures the same: Derby reclaims deleted rows'
    * space in a background thread, so each table is first compressed
    * (rebuilt from its rows), then its allocated pages are counted. The
    * transaction log and Derby's own system tables are left out. */
  def catalogBytes(db: String): Long = {
    val c = java.sql.DriverManager.getConnection(s"jdbc:derby:$db")
    try {
      val tables = Seq("ROW_GROUP_STATISTICS", "FILE_STATISTICS")
      val st = c.prepareCall("CALL SYSCS_UTIL.SYSCS_COMPRESS_TABLE('APP', ?, 1)")
      tables.foreach { t => st.setString(1, t); st.execute() }
      st.close()
      val q = c.prepareStatement("SELECT SUM(CAST(NUMALLOCATEDPAGES AS BIGINT) * PAGESIZE) " +
        "FROM TABLE (SYSCS_DIAG.SPACE_TABLE('APP', ?)) T")
      try tables.map { t =>
        q.setString(1, t)
        val rs = q.executeQuery()
        try { rs.next(); rs.getLong(1) } finally rs.close()
      }.sum
      finally q.close()
    } finally {
      c.close()
      DerbyStatsIndex.shutdownDatabase(db)
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  /** First row index of every row group of a Parquet file. */
  def rowGroupStarts(spark: SparkSession, file: String): Array[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getBlocks.asScala.map(_.getRowCount).scanLeft(0L)(_ + _).init.toArray
    finally r.close()
  }
}

object Main {
  def session(slots: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("graftbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(r: Result): String = {
    val ms = r.metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
    s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = session(a("slots").toInt, work)
    System.err.println("graftbench session ready")
    val probes = ArrayBuffer.empty[(String, Double)]
    try {
      probes += "probe.cpu_s.before" -> Probes.cpu()
      probes += "probe.fsync_s.before" -> Probes.fsync(work.resolve("probe"))
      val r = new Runner(spark, Workload(a("workload")), a("seed").toLong, a("seconds").toInt,
        a("trace") == "1", work.resolve("run")).run()
      probes += "probe.cpu_s.after" -> Probes.cpu()
      probes += "probe.fsync_s.after" -> Probes.fsync(work.resolve("probe"))
      val diag = (r.diagnostics ++ probes).map { case (n, v) => s""""$n":${num(v)}""" }
      r.errors.foreach(e => System.err.println(s"graftbench error: $e"))
      println("GRAFTBENCH_DIAG {" + diag.mkString(",") + "}")
      println("GRAFTBENCH_RESULT " + json(r))
    } finally spark.stop()
  }
}
