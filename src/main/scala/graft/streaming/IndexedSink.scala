package graft.streaming

import graft.index.{FooterStats, StatsIndex}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.util.SerializableConfiguration

/** Streaming append that KEEPS THE STATS INDEX IN SYNC: each micro-batch
  * writes parquet into the table directory and ingests exactly the new
  * files' footer statistics into the external catalog — so the growing
  * table stays index-served with no full re-index, closing the loop
  * between the streaming surface and the reference's index build
  * (entry point B, /root/reference/sqlx-sqlite/src/main.rs:215-240, made
  * continuous).
  *
  * Exactly-once END TO END despite foreachBatch's at-least-once contract:
  * the batch writes to a staging directory and renames onto
  * batchId-DETERMINISTIC names (`b<batchId>-k.parquet`), so a replayed
  * batch REPLACES its previous attempt instead of duplicating it — the
  * same idempotent-naming trick transactional table formats build on —
  * and index ingest is a per-file transactional upsert keyed by those
  * same names, so re-ingest overwrites rather than double-counts. Footer
  * reads run distributed, one task per new file, and stats flow
  * executor-side into the catalog like `ingestAll`.
  *
  * Scale notes: per batch the work is O(new files) footer reads + catalog
  * upserts — never O(table); the data write is the same parquet append
  * any streaming sink performs. Catalog growth is one row per row group.
  */
object IndexedSink {

  /** Start the maintaining stream: rows from `source` append to `dataDir`
    * as parquet, and `index` ingests each batch's new files. `rowLevel`
    * (key column → posting-catalog dir) additionally keeps those row-level
    * posting indexes fresh — an incremental [[graft.index.RowLevelIndex.append]]
    * per batch, so automatic routing on the growing table stays PRECISE
    * instead of degrading on the staleness guard. An index with bloom
    * columns likewise gets each batch's blooms attached (O(new files)
    * build per batch via `rebuildBlooms`). `compactEvery` (N > 0) runs
    * [[DedupMaintenance.compactPairStats]] on the artifact stores every
    * N batches, so a LONG-RUNNING stream's per-read dir count (and the
    * planning-time listing behind it) stays bounded at base + N instead
    * of growing one dir per batch forever. */
  def start(source: DataFrame, dataDir: String, index: StatsIndex,
      indexedCols: Seq[String], checkpointDir: String,
      rowLevel: Map[String, String] = Map.empty,
      dedupArtifacts: Option[String] = None,
      pairStatsArtifacts: Option[String] = None,
      compactEvery: Int = 0,
      freqShadowCols: Seq[String] = Nil,
      sumShadowCols: Seq[String] = Nil,
      rowLevelRowNumbers: Boolean = false,
      hllShadowCols: Seq[String] = Nil,
      quantileShadowCols: Seq[String] = Nil,
      cmsShadowCols: Seq[String] = Nil): StreamingQuery = {
    val spark = source.sparkSession
    val hconf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatch(batch, batchId, dataDir, index, indexedCols, hconf,
          rowLevel, dedupArtifacts, pairStatsArtifacts, compactEvery,
          freqShadowCols, sumShadowCols, rowLevelRowNumbers, hllShadowCols,
          quantileShadowCols, cmsShadowCols)
      }
      .start()
  }

  /** One batch's idempotent commit: stage → rename onto
    * batchId-deterministic names → ingest footer stats. Running this
    * twice with the same (batch, batchId) leaves the table and catalog
    * byte-identical — the replay contract the spec pins directly. */
  private[graft] def commitBatch(batch: DataFrame, batchId: Long,
      dataDir: String, index: StatsIndex, indexedCols: Seq[String],
      hconf: SerializableConfiguration,
      rowLevel: Map[String, String] = Map.empty,
      dedupArtifacts: Option[String] = None,
      pairStatsArtifacts: Option[String] = None,
      compactEvery: Int = 0,
      freqShadowCols: Seq[String] = Nil,
      sumShadowCols: Seq[String] = Nil,
      /** Maintain the rowLevel postings at ROW-NUMBER precision (r14):
        * the batch that creates a posting catalog builds it with row
        * numbers, and every later append keeps the catalog's shape, so
        * each batch's postings carry the within-file ordinal and
        * [[graft.index.RowLevelIndex.fetchRows]] serves id->row fetches
        * on the growing table. Replay leaves only harmless stale
        * postings for same-name rewritten files — they ADD candidate
        * positions (fresh postings stay complete) and the fetch path's
        * key re-filter drops non-matching rows. */
      rowLevelRowNumbers: Boolean = false,
      /** Maintain the per-row-group HLL ledgers (r15) for these columns —
        * each batch sketches just its new files, so catalog NDV estimates
        * ([[graft.index.StatsIndex.approxDistinct]]) keep serving on the
        * growing table instead of declining on the unsketched tail. */
      hllShadowCols: Seq[String] = Nil,
      /** Maintain the per-row-group quantile ledgers (r15) likewise —
        * each batch summarizes just its new files, so catalog quantile
        * estimates ([[graft.index.StatsIndex.approxQuantiles]]) keep
        * serving on the growing table. */
      quantileShadowCols: Seq[String] = Nil,
      /** Maintain the per-row-group count-min ledgers (r15) likewise. */
      cmsShadowCols: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    val dirPath = new Path(dataDir)
    val fs = dirPath.getFileSystem(hconf.value)
    val staging = new Path(dataDir, s".staging-$batchId")
    batch.write.mode("overwrite").parquet(staging.toString)
    val parts = fs.listStatus(staging).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
    // Replay safety beyond same-part-count: a prior attempt may have
    // committed MORE parts than this attempt produces (partitioning can
    // change across restarts — defaultParallelism, shuffle partitions).
    // Renaming onto b<batchId>-0..n-1 alone would leave the old attempt's
    // b<batchId>-k (k >= n) files AND their catalog rows behind, silently
    // double-counting. So first remove EVERY existing file of this batch
    // id — catalog rows first, then data — making the replay a full
    // replacement regardless of part count.
    val stale = Option(fs.globStatus(new Path(dirPath, s"b$batchId-*.parquet")))
      .map(_.toSeq).getOrElse(Seq.empty).map(_.getPath)
    if (stale.nonEmpty) {
      index.removeFiles(stale.map(_.getName).toSet)
      stale.foreach { p =>
        require(fs.delete(p, false) || !fs.exists(p), s"delete of stale $p failed")
      }
    }
    val finals = parts.zipWithIndex.map { case (p, k) =>
      val tgt = new Path(dirPath, s"b$batchId-$k.parquet")
      // rename failure surfaces as a boolean on many FileSystem
      // implementations — swallowing it would delete the part with the
      // staging dir below while the checkpoint advances (silent loss).
      // Fail the batch instead; the replay contract makes the retry safe.
      require(fs.rename(p, tgt), s"rename $p -> $tgt failed")
      tgt
    }
    fs.delete(staging, true)
    // r16: the catalog chain (footer ingest → fused ledger/posting
    // rebuild) and the dedup/pair-stats artifact commits are independent
    // — the former reads the renamed data files and writes the Derby
    // catalog, the latter read the materialized batch rows and write
    // their own artifact roots. Overlap them (guide §2.6); the scheduled
    // compaction below still runs strictly after both.
    val artifactWork: Seq[() => Unit] =
      dedupArtifacts.toSeq.map(artDir => () =>
        DedupMaintenance.commitBatch(batch, batchId, artDir, hconf)) ++
        pairStatsArtifacts.toSeq.map(artDir => () =>
          DedupMaintenance.commitPairStats(batch, batchId, artDir, hconf))
    val catalogWork: () => Unit = () => if (finals.nonEmpty) {
      val paths = finals.map(_.toString)
      val cols = indexedCols
      val statsRdd = spark.sparkContext
        .parallelize(paths, math.max(1, math.min(paths.size,
          spark.sparkContext.defaultParallelism)))
        .map(f => FooterStats.read(new Path(f), hconf.value, cols))
      // per-file transactional upsert keyed by the deterministic names:
      // a replayed batch overwrites its own catalog rows
      index.ingestAll(statsRdd)
      if (rowLevel.nonEmpty || index.bloomCols.nonEmpty ||
          freqShadowCols.nonEmpty || sumShadowCols.nonEmpty ||
          hllShadowCols.nonEmpty || quantileShadowCols.nonEmpty ||
          cmsShadowCols.nonEmpty) {
        // incremental bloom + shadow + posting maintenance for JUST this
        // batch's files: blooms keep equality probes precise on the
        // growing table (an absent bloom is only "might match"), the
        // freq/sum shadow ledgers keep the dominant-slice and SUM-fold
        // certificates SERVED instead of declining on the unshadowed
        // tail, postings + coverage keep routing off the staleness
        // guard. Replay leaves only harmless garbage (a replayed batch
        // re-attaches blooms/shadows over the re-ingested rows; dup
        // postings collapse in the lookup; postings for removed files
        // are never consulted); a periodic full rebuild compacts.
        val names = finals.map(_.getName).toSet
        // catalog-side name filter — O(new files), never a full-catalog
        // plan fetch per micro-batch
        val newPlans = index.filesNamed(names)
        // r16: ONE fused scan builds blooms + every shadow ledger for the
        // batch's files (was one scan per family — up to 5 reads of the
        // same new data per commit)
        index.rebuildLedgers(spark, dataDir, newPlans, batch.schema,
          freqCols = freqShadowCols, sumCols = sumShadowCols,
          hllCols = hllShadowCols, quantileCols = quantileShadowCols,
          cmsCols = cmsShadowCols, blooms = true)
        rowLevel.foreach { case (colName, idxDir) =>
          // the first batch picks the catalog's shape; appends keep it
          if (rowLevelRowNumbers && !graft.index.RowLevelIndex.isComplete(idxDir))
            graft.index.RowLevelIndex.build(
              spark, dataDir, newPlans, batch.schema, colName, idxDir,
              withRowNumbers = true)
          else graft.index.RowLevelIndex.append(
            spark, dataDir, newPlans, batch.schema, colName, idxDir)
        }
      }
    }
    // incremental dedup-artifact maintenance (band append + star-merge
    // labels; optionally pair statistics) for document batches — same
    // exactly-once discipline, see [[DedupMaintenance]] — run
    // CONCURRENTLY with the catalog chain above
    if (artifactWork.isEmpty) catalogWork()
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(1 + artifactWork.size)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      // await ALL before rethrowing (Awaits.all): a fail-fast await here
      // left sibling commit jobs writing b<batchId> dirs while the batch
      // failed — a replay would then race the orphaned writers
      try Awaits.all(
        (catalogWork +: artifactWork).map(w => scala.concurrent.Future(w())))
      finally pool.shutdown()
    }
    // scheduled LSM compaction: every N batches, fold all artifact dirs
    // below the NEWEST (this batch — still replayable, never folded)
    // into a base. Running it here is safe: every older batch is
    // checkpoint-committed the moment this one started, and a crash
    // between compaction and this batch's commit replays only b<batchId>
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      (dedupArtifacts.toSeq ++ pairStatsArtifacts).distinct.foreach(artDir =>
        DedupMaintenance.compactPairStats(spark, artDir, hconf))
    ()
  }

  /** The batch id a sink-committed file belongs to — the `b<id>-<k>`
    * naming IS the version manifest (deterministic, replay-stable). */
  private[graft] def batchIdOf(fileName: String): Option[Long] =
    "^b(\\d+)-\\d+\\.parquet$".r.findFirstMatchIn(fileName)
      .map(_.group(1).toLong)

  /** TIME-TRAVEL read (r15): the sink-maintained table AS OF `maxBatchId`
    * — exactly the rows the table held after that batch committed. The
    * snapshot's file set derives from the CATALOG alone (the sink's
    * deterministic `b<id>-<k>` names are the version manifest; no
    * directory listing, no snapshot files to maintain), and the scan is
    * the byte-range RowGroupScan leaf over those plans with
    * `requiredCols` pruning. Files the sink did not commit (no batch id)
    * are excluded — a snapshot of the STREAM's history, by construction.
    *
    * Deliberately NOT an [[graft.sources.IndexedParquet.read]] relation:
    * the fold/top-k/join-prune rules consult the WHOLE catalog through
    * that seam, and on a version-filtered relation a catalog fold would
    * answer from rows outside the snapshot — the plan-leaf scan has no
    * such rule surface, so AS-OF answers are scan-true by construction.
    * Pushed filters still reach the reader for page-level skipping.
    *
    * CROSS-COMPACTION (r16): a compaction pass rewrites committed
    * batches into `compacted-N` files, but records every fold in the
    * directory's `_rewrites` manifest ([[graft.sources.Compaction]]), so
    * a compacted file resolves — transitively, across re-compactions —
    * back to the versioned originals it holds. A compacted file joins
    * the snapshot when ALL its resolved batch ids are `<= maxBatchId`
    * (compaction folds whole files, so inclusion is exact); when the
    * AS-OF point falls INSIDE a fold (some originals before, some after)
    * the snapshot is genuinely not reconstructible from whole files and
    * this THROWS rather than returning partial data. Likewise any
    * catalog file of unknown provenance (no batch id, no manifest entry)
    * throws — silent exclusion would quietly drop committed rows.
    *
    * Catalog access is O(snapshot): one names-only fetch to classify
    * (never the O(#row groups) allFiles materialization), then plan rows
    * for exactly the snapshot's files via the catalog-side name filter
    * ([[StatsIndex.filesNamed]]). */
  def readAsOf(
      spark: org.apache.spark.sql.SparkSession,
      dataDir: String,
      index: StatsIndex,
      dataSchema: org.apache.spark.sql.types.StructType,
      maxBatchId: Long,
      requiredCols: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val dirPath = new Path(dataDir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rewrites = graft.sources.Compaction.readRewrites(fs, dirPath)
    // every original batch id a file (transitively) holds; None = some
    // leaf has unknown provenance
    def resolve(name: String): Option[Seq[Long]] = batchIdOf(name) match {
      case Some(id) => Some(Seq(id))
      case None => rewrites.get(name) match {
        case Some(ins) =>
          val per = ins.map(resolve)
          if (per.exists(_.isEmpty)) None else Some(per.flatten.flatten)
        case None => None
      }
    }
    val names = index.fileNames().getOrElse(
      sys.error("catalog file names unavailable — cannot derive a snapshot"))
    val keep = names.filter { n =>
      val ids = resolve(n).getOrElse(sys.error(
        s"snapshot AS OF batch $maxBatchId cannot be derived: '$n' has no " +
          "batch id and no _rewrites record — unknown provenance"))
      val before = ids.count(_ <= maxBatchId)
      if (before > 0 && before < ids.size) sys.error(
        s"snapshot AS OF batch $maxBatchId is not reconstructible: " +
          s"compaction folded batches ${ids.min}..${ids.max} into '$n' " +
          "across the AS-OF point")
      before == ids.size
    }
    graft.sources.RowGroupSkipScan.scan(
      spark, dataDir, index.filesNamed(keep.toSet), dataSchema,
      requiredCols = requiredCols)
  }
}
