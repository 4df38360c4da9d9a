package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction for parquet table directories — the lake
  * maintenance a 100 TB table needs (many small files destroy scan
  * throughput: per-file open/footer costs dominate, and the driver's file
  * listing grows unboundedly).
  *
  * Bin-packs files below `smallThresholdBytes` into target-sized groups
  * (first-fit decreasing) and rewrites each group as one file; files
  * already at target size are left untouched. After compaction the caller
  * re-runs the index build — `DerbyStatsIndex.addFile`'s upsert plus
  * `retainOnly` make that incremental and idempotent.
  */
object Compaction {

  /** The rewrite-recording manifest (r16): one line per compaction OUTPUT
    * file — `out<TAB>in1,in2,…` — appended by every pass, so snapshot
    * reads (IndexedSink.readAsOf) can resolve a compacted file back to
    * the versioned originals it folded. Written BETWEEN the output
    * renames and the input deletes: a crash before the record leaves the
    * originals in place (pass replays), a crash after leaves a complete
    * record — there is no window where history is collapsed unrecorded. */
  private[graft] val RewritesFile = "_rewrites"

  /** The manifest's rewrite map: output file name → the input file names
    * it folded (possibly themselves outputs of an earlier pass — resolve
    * transitively). Empty when no compaction ever ran. */
  def readRewrites(
      fs: org.apache.hadoop.fs.FileSystem, dir: Path): Map[String, Seq[String]] = {
    val p = new Path(dir, RewritesFile)
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    new String(bytes, "UTF-8").split("\n").filter(_.nonEmpty).map { line =>
      val Array(out, ins) = line.split("\t", 2)
      out -> ins.split(",").toSeq.filter(_.nonEmpty)
    }.toMap
  }

  private def recordRewrites(
      fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      entries: Seq[(String, Seq[String])]): Unit = {
    val prev = readRewrites(fs, dir)
    val all = (prev.toSeq ++ entries).sortBy(_._1)
    val p = new Path(dir, RewritesFile)
    val out = fs.create(p, true)
    try out.write(all.map { case (o, ins) => s"$o\t${ins.mkString(",")}" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  final case class Plan(bins: Seq[Seq[String]], untouched: Seq[String])

  /** What a compaction pass changed: files written and files deleted. */
  final case class Result(newFiles: Seq[String], removedFiles: Seq[String]) {
    def bins: Int = newFiles.size
  }

  /** First-fit-decreasing bin packing of small files. */
  def plan(
      files: Seq[(String, Long)],
      targetBytes: Long,
      smallThresholdBytes: Long): Plan = {
    val (small, big) = files.partition(_._2 < smallThresholdBytes)
    val bins = scala.collection.mutable.ArrayBuffer.empty[(scala.collection.mutable.ArrayBuffer[String], Long)]
    small.sortBy(-_._2).foreach { case (f, sz) =>
      bins.indexWhere(_._2 + sz <= targetBytes) match {
        case -1 => bins += ((scala.collection.mutable.ArrayBuffer(f), sz))
        case i  => val (fs, tot) = bins(i); fs += f; bins(i) = (fs, tot + sz)
      }
    }
    // a singleton bin is a rewrite for nothing — leave those files alone
    val (real, single) = bins.map(_._1.toSeq).partition(_.size > 1)
    Plan(real.toSeq, big.map(_._1) ++ single.flatten)
  }

  /** Execute compaction in place: ONE Spark job rewrites every bin — a
    * single scan of all bin files, each row tagged with its bin id via the
    * file-name metadata column, hash-clustered on bin id (all of a bin's
    * rows land in one task) and written through a dynamic-partition write
    * that emits exactly one file per bin value. A 100 TB table's thousand
    * bins rewrite in parallel across the cluster instead of as a thousand
    * sequential driver-looped jobs; the driver's remaining work is
    * O(bins) metadata renames. Returns the number of bins rewritten. */
  def compact(
      spark: SparkSession,
      dir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      smallThresholdBytes: Long = 32L * 1024 * 1024): Int =
    compactDetailed(spark, dir, targetBytes, smallThresholdBytes).bins

  /** [[compact]], returning which files the pass wrote and deleted — the
    * O(changed) input [[compactIndexed]]'s catalog maintenance needs. */
  def compactDetailed(
      spark: SparkSession,
      dir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      smallThresholdBytes: Long = 32L * 1024 * 1024): Result = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(dirPath).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.toString, s.getLen))
    val p = plan(files, targetBytes, smallThresholdBytes)
    if (p.bins.isEmpty) return Result(Nil, Nil)
    val binFiles = p.bins.flatten
    val binOf = p.bins.zipWithIndex
      .flatMap { case (bin, i) => bin.map(f => new Path(f).getName -> i) }.toMap
    // output names must not collide with survivors of an earlier pass
    // (renaming over an UNTOUCHED file would lose data) — continue the
    // compacted-N numbering past the highest existing one
    val offset = files
      .flatMap { case (f, _) =>
        "compacted-(\\d+)\\.parquet".r
          .findFirstMatchIn(new Path(f).getName).map(_.group(1).toInt)
      }.maxOption.map(_ + 1).getOrElse(0)
    val staging = new Path(dirPath, ".compact-staging")
    fs.delete(staging, true)
    // schema from ONE footer read on the driver (the S5 parity path) — an
    // explicit schema on the read skips Spark's footer-inference job
    val schema = footerSchema(
      new Path(binFiles.head), spark.sparkContext.hadoopConfiguration)
    spark.read.schema(schema).parquet(binFiles: _*)
      .withColumn("__bin", element_at(typedlit(binOf), col("_metadata.file_name")))
      .repartition(p.bins.size, col("__bin"))
      .write.partitionBy("__bin").mode("overwrite").parquet(staging.toString)
    val written = p.bins.indices.map { i =>
      val sub = fs.listStatus(new Path(staging, s"__bin=$i")).toSeq
        .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      require(sub.size == 1, s"bin $i wrote ${sub.size} parts, expected 1")
      val dest = new Path(dirPath, f"compacted-${offset + i}%05d.parquet")
      require(fs.rename(sub.head, dest), s"rename ${sub.head} -> $dest failed")
      dest.toString
    }
    fs.delete(staging, true)
    recordRewrites(fs, dirPath, written.zip(p.bins).map { case (out, bin) =>
      new Path(out).getName -> bin.map(new Path(_).getName)
    })
    binFiles.foreach(f => fs.delete(new Path(f), false))
    Result(written, binFiles)
  }

  /** Compaction with catalog maintenance in one call: rewrite the bins,
    * then bring EVERY index layer back in step with O(changed files) work —
    * one keyed delete for the originals the pass removed, one distributed
    * footer-ingest job for the files it wrote, one ledger-build job for
    * the blooms and every shadow ledger over just those files (via the
    * index's own `rebuildLedgers` hook), and for each entry in `rowLevel` (key column →
    * posting-catalog dir) an incremental posting append that also extends
    * the covered-files set — so automatic routing stays PRECISE instead of
    * tripping the staleness guard. The untouched bulk of a 100 TB table
    * never re-ingests; the indexed relation serves exact, fully-pruned
    * reads again the moment this returns. Postings for the removed
    * originals linger in the posting catalog but are never consulted
    * (lookups intersect with the LIVE stats plans); a periodic full
    * `RowLevelIndex.build` compacts them away. */
  def compactIndexed(
      spark: SparkSession,
      dir: String,
      index: graft.index.StatsIndex,
      indexedCols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024,
      smallThresholdBytes: Long = 32L * 1024 * 1024,
      rowLevel: Map[String, String] = Map.empty,
      // shadow-ledger maintenance (r15): a compaction re-ingests the
      // rewritten files' catalog rows, which WIPES their freq/sum/HLL/
      // quantile ledgers — sound (estimates decline, folds fall back to
      // the scan) but a serving regression on exactly the files a
      // maintenance pass touched. Passing the ledgered columns here
      // rebuilds them over just the new files, same O(changed files)
      // contract as the blooms.
      freqShadowCols: Seq[String] = Nil,
      sumShadowCols: Seq[String] = Nil,
      hllShadowCols: Seq[String] = Nil,
      quantileShadowCols: Seq[String] = Nil,
      cmsShadowCols: Seq[String] = Nil): Int = {
    val r = compactDetailed(spark, dir, targetBytes, smallThresholdBytes)
    if (r.newFiles.nonEmpty) {
      index.removeFiles(r.removedFiles.map(new Path(_).getName).toSet)
      val serConf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val cols = indexedCols
      val statsRdd = spark.sparkContext
        .parallelize(r.newFiles, math.max(1, math.min(r.newFiles.size,
          spark.sparkContext.defaultParallelism)))
        .map(f => graft.index.FooterStats.read(new Path(f), serConf.value, cols))
      index.ingestAll(statsRdd)
      if (index.bloomCols.nonEmpty || rowLevel.nonEmpty ||
          freqShadowCols.nonEmpty || sumShadowCols.nonEmpty ||
          hllShadowCols.nonEmpty || quantileShadowCols.nonEmpty ||
          cmsShadowCols.nonEmpty) {
        val names = r.newFiles.map(new Path(_).getName).toSet
        // catalog-side name filter — O(changed files), never a full
        // catalog plan fetch per maintenance pass
        val newPlans = index.filesNamed(names)
        val schema = footerSchema(
          new Path(r.newFiles.head), spark.sparkContext.hadoopConfiguration)
        // r16: ONE fused scan re-attaches blooms + every shadow ledger
        // over the rewritten files (was one scan per family)
        index.rebuildLedgers(spark, dir, newPlans, schema,
          freqCols = freqShadowCols, sumCols = sumShadowCols,
          hllCols = hllShadowCols, quantileCols = quantileShadowCols,
          cmsCols = cmsShadowCols, blooms = true)
        rowLevel.foreach { case (colName, idxDir) =>
          graft.index.RowLevelIndex.append(
            spark, dir, newPlans, schema, colName, idxDir)
        }
      }
    }
    r.bins
  }

  /** Spark schema from one parquet footer, read on the driver thread. */
  private[sources] def footerSchema(
      path: Path, conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.types.StructType = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf),
      org.apache.parquet.ParquetReadOptions.builder().build())
    val msg = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter().convert(msg)
  }

  private val fixtureCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Once per sfDir: a deliberately fragmented copy of `orders` (16 small
    * files), then compacted in place — the maintenance pass under the
    * correctness gate. */
  private def compactedOrders(s: SparkSession, sfDir: String): String =
    fixtureCache.getOrElseUpdate(sfDir + "@" + s.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val dataDir = new java.io.File(s"target/tmp/compact/$safe/orders-v1").getAbsolutePath
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dataDir, "_SUCCESS"))) {
        graft.Tables.load(s, sfDir, "orders")
          .repartition(16).write.mode("overwrite").parquet(dataDir)
        compact(s, dataDir) // every part is far below the 32 MB threshold
      }
      dataDir
    })

  /** Compaction as a driver-checked row: the fragmented-then-compacted
    * copy must answer exactly like the original table — the maintenance
    * pass moves bytes, never rows. The oracle runs on the original
    * `orders`; the double sum is rendered through the fixed-scale decimal
    * cast so the check is order-insensitive. */
  val defs: Seq[graft.QueryDef] = Seq(
    graft.QueryDef(
      "cp1_compacted",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        s.read.parquet(compactedOrders(s, dir))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,4)"))
              .cast("decimal(38,4)").cast("string").as("total"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS VARCHAR) AS total
             |FROM orders GROUP BY 1""".stripMargin)))
}
