package graft

import graft.streaming.DedupMaintenance
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration


/** Incremental dedup-artifact maintenance in the streaming sink (st6):
  * per-batch band append + star-merged component labels.
  *
  *  - Merge-equals-recompute: after streaming the corpus batch by batch,
  *    the maintained labels equal one connectedComponents run over the
  *    full band pair graph (the CORRECTNESS row additionally proves this
  *    against DuckDB's recursive closure).
  *  - Replay idempotence: re-committing the last batch leaves labels and
  *    band store identical — foreachBatch's at-least-once becomes
  *    exactly-once.
  *  - O(batch) per commit: a later batch never rewrites earlier batches'
  *    band files, and the candidate join BROADCASTS the batch side so
  *    the band store is never shuffled.
  */
class StreamingDedupSpec extends SparkSpec {

  private def hconf =
    new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)

  private def labels(artDir: String): Map[Long, Long] =
    DedupMaintenance.currentLabels(spark, artDir, hconf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def bandFiles(artDir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$artDir/bands"))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  test("star-merged labels equal a full recompute; replay is idempotent; bands append-only") {
    val dir = sf("sf0.001")
    val art = tempDir("graft-dedup-maint")
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val batches = (0 until 3).map(i =>
      docs.filter(col("doc_id") % 3 === i))

    DedupMaintenance.commitBatch(batches(0), 0L, art, hconf)
    DedupMaintenance.commitBatch(batches(1), 1L, art, hconf)
    val bandsAfter1 = bandFiles(art)
    DedupMaintenance.commitBatch(batches(2), 2L, art, hconf)

    // earlier batches' band files untouched by batch 2 (append-only)
    val bandsAfter2 = bandFiles(art)
    bandsAfter1.foreach { case (p, mtime) =>
      assert(bandsAfter2.get(p).contains(mtime),
        s"batch 2 rewrote an earlier band file: $p")
    }

    // merge-equals-recompute, Spark-side (the oracle proves it vs DuckDB)
    val merged = labels(art)
    val allBands = graft.operators.Dedup.bandKeysMapOnly(docs)
    val full = graft.operators.Dedup.connectedComponents(
        graft.operators.Dedup.bandPairs(allBands))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === full, "incremental star-merge diverged from full recompute")

    // replay the LAST batch — labels and band store content-stable (the
    // replayed batch REPLACES its own subdir; part-file names carry
    // fresh UUIDs, so compare rows, not names)
    def storeRows() = DedupMaintenance.bandStore(spark, art, hconf)
      .select("band", "bkey", "doc_id", "bucket")
      .collect().map(_.toString).sorted.toSeq
    val bandRows = storeRows()
    DedupMaintenance.commitBatch(batches(2), 2L, art, hconf)
    assert(labels(art) === merged, "replayed batch changed the labels")
    assert(storeRows() === bandRows,
      "replayed batch changed the band store content")
    bandsAfter1.foreach { case (p, mtime) =>
      assert(bandFiles(art).get(p).contains(mtime),
        s"replay of batch 2 rewrote an earlier batch's band file: $p")
    }
  }

  test("the candidate join broadcasts the batch side — the band store never shuffles") {
    val dir = sf("sf0.001")
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val store = graft.operators.Dedup.bandKeysMapOnly(docs)
    val batch = graft.operators.Dedup.bandKeysMapOnly(
      docs.filter(col("doc_id") % 7 === 0))
    val plan = DedupMaintenance.newPairs(store, batch)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate join is not broadcast:\n$plan")
    // the store side must reach the join with no shuffle exchange on its
    // branch: the only Exchange allowed in the whole plan is the
    // broadcast one (the distinct() above the join aggregates PAIRS, not
    // store rows — but it must not move the store before the join)
    val beforeJoin = plan.substring(plan.indexOf("BroadcastHashJoin"))
    assert(!beforeJoin.contains("Exchange hashpartitioning"),
      s"the band store is shuffled below the join:\n$plan")
  }

  test("the band store read is bucket-pruned to the batch's partitions") {
    val dir = sf("sf0.001")
    val art = tempDir("graft-bucket-prune")
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    // a sizable store (touches all buckets)…
    DedupMaintenance.commitBatch(docs.filter(col("doc_id") < 400), 0L, art, hconf)
    // …then a TINY batch: 2 docs → 8 band keys → ≤8 of BandBuckets (32)
    val tiny = docs.filter(col("doc_id").isin(401L, 402L))
    DedupMaintenance.commitBatch(tiny, 1L, art, hconf)
    val batchBands = graft.operators.Dedup.bandKeysMapOnly(tiny)
    val store = DedupMaintenance.prunedBandStore(spark, art, batchBands, hconf)
    val planStr = store.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") && planStr.contains("bucket"),
      s"band-store scan carries no bucket partition filter:\n$planStr")
    store.collect() // materialize so the scan metrics land
    val scans = store.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val readFiles = scans.map(_.metrics("numFiles").value).sum
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val totalFiles = walk(new java.io.File(s"$art/bands"))
      .count(_.getName.endsWith(".parquet"))
    assert(readFiles < totalFiles,
      s"bucket pruning read all $totalFiles band files")
    // and the pruned read loses no candidate matches: pairs against the
    // pruned store equal pairs against the full store
    val full = DedupMaintenance.bandStore(spark, art, hconf)
      .select("band", "bkey", "doc_id")
    def pairSet(all: org.apache.spark.sql.DataFrame) =
      DedupMaintenance.newPairs(all, batchBands)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(store) === pairSet(full),
      "bucket pruning changed the candidate pair set")
  }

  test("pair-stats maintenance equals the full inverted-index pass; replay idempotent") {
    val dir = sf("sf0.001")
    val art = tempDir("graft-pairstats")
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val batches = (0 until 3).map(i => docs.filter(col("doc_id") % 3 === i))
    batches.zipWithIndex.foreach { case (b, i) =>
      DedupMaintenance.commitPairStats(b, i.toLong, art, hconf)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val merged = rows(DedupMaintenance.currentPairStats(spark, art, hconf))
    val full = rows(graft.operators.Dedup.pairStats(spark, dir)
      .select("a", "b", "c", "na", "nb"))
    assert(merged === full, "incremental pair stats diverged from the full pass")
    assert(merged.nonEmpty)
    // replay the last batch — the delta overwrite leaves the view unchanged
    DedupMaintenance.commitPairStats(batches(2), 2L, art, hconf)
    assert(rows(DedupMaintenance.currentPairStats(spark, art, hconf)) === merged,
      "replayed batch changed the pair statistics")
  }

  test("pair-stats compaction folds old deltas, preserves the view, and stays replay-safe") {
    val dir = sf("sf0.001")
    val art = tempDir("graft-pairstats-compact")
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val batches = (0 until 3).map(i => docs.filter(col("doc_id") % 3 === i))
    batches.zipWithIndex.foreach { case (b, i) =>
      DedupMaintenance.commitPairStats(b, i.toLong, art, hconf)
    }
    def rows = DedupMaintenance.currentPairStats(spark, art, hconf)
      .collect().map(_.toString).sorted.toSeq
    val before = rows
    DedupMaintenance.compactPairStats(spark, art, hconf)
    assert(rows === before, "compaction changed the pair-stats view")
    // folded state: one base (b0+b1) + the newest batch dir per store
    Seq("pairdeltas", "shingles", "ns").foreach { store =>
      val names = new java.io.File(s"$art/$store").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(names === Set("base-1", "b2"), s"$store after compaction: $names")
    }
    // the newest batch is never folded, so its replay stays idempotent
    DedupMaintenance.commitPairStats(batches(2), 2L, art, hconf)
    assert(rows === before, "replay after compaction changed the view")
    // and later commits keep matching the full pass
    DedupMaintenance.commitPairStats(docs.limit(0), 3L, art, hconf)
    assert(rows === before)
  }

  test("a bucket crossing the posting cap retracts its earlier pair contributions") {
    // the fixture corpus never grows a bucket past MaxPosting (max ~7 of
    // 64), so the oracle row cannot see a broken retraction — force the
    // crossing: every doc shares the shingle 'alpha beta gamma'; its
    // bucket holds 40 docs after batch 0 (alive — 780 pairs at c = 1)
    // and 70 after batch 1 (dead — the full semantics drop the whole
    // bucket, so the maintained view must retract to empty)
    import spark.implicits._
    val art = tempDir("graft-pairstats-cap")
    def mk(ids: Seq[Long]) =
      ids.map(i => (i, s"alpha beta gamma u$i v$i")).toDF("doc_id", "text")
    DedupMaintenance.commitPairStats(mk(0L until 40L), 0L, art, hconf)
    val mid = DedupMaintenance.currentPairStats(spark, art, hconf)
    assert(mid.count() === 40L * 39 / 2)
    assert(mid.agg(max(col("c")), max(col("na"))).collect().head ===
      org.apache.spark.sql.Row(1L, 3L))
    DedupMaintenance.commitPairStats(mk(40L until 70L), 1L, art, hconf)
    assert(DedupMaintenance.currentPairStats(spark, art, hconf).count() === 0L,
      "cap crossing did not retract the dead bucket's pairs")
  }

  test("band-store compaction folds into a bucketed base; later merges stay exact") {
    val dir = sf("sf0.001")
    val art = tempDir("graft-band-compact")
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val batches = (0 until 4).map(i => docs.filter(col("doc_id") % 4 === i))
    (0 until 3).foreach(i =>
      DedupMaintenance.commitBatch(batches(i), i.toLong, art, hconf))
    DedupMaintenance.compactPairStats(spark, art, hconf)
    val names = new java.io.File(s"$art/bands").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(names === Set("base-1", "b2"), s"bands after compaction: $names")
    // the base keeps the bucket partitioning (pruning still works on it)
    val baseBuckets = new java.io.File(s"$art/bands/base-1").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(baseBuckets.nonEmpty && baseBuckets.forall(_.startsWith("bucket=")),
      s"base fold lost the bucket layout: ${baseBuckets.toSeq}")
    // a batch arriving AFTER compaction merges against base + tail dirs
    // and still equals the full recompute
    DedupMaintenance.commitBatch(batches(3), 3L, art, hconf)
    val merged = labels(art)
    val full = graft.operators.Dedup.connectedComponents(
        graft.operators.Dedup.bandPairs(
          graft.operators.Dedup.bandKeysMapOnly(docs)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === full,
      "post-compaction merge diverged from the full recompute")
  }

  test("an EMPTY micro-batch commits harmlessly (no-parquet dirs stay invisible)") {
    val dir = sf("sf0.001")
    val art = tempDir("graft-dedup-empty")
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    DedupMaintenance.commitBatch(docs.filter(col("doc_id") % 2 === 0), 0L, art, hconf)
    // the empty batch: writes a b1 dir holding only _SUCCESS
    DedupMaintenance.commitBatch(docs.limit(0), 1L, art, hconf)
    // later commits, reads, and compaction must all still work
    DedupMaintenance.commitBatch(docs.filter(col("doc_id") % 2 === 1), 2L, art, hconf)
    DedupMaintenance.compactPairStats(spark, art, hconf)
    val merged = labels(art)
    val full = graft.operators.Dedup.connectedComponents(
        graft.operators.Dedup.bandPairs(
          graft.operators.Dedup.bandKeysMapOnly(docs)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === full,
      "labels diverged after an empty micro-batch in the stream")
  }

  test("label merge touches only AFFECTED components (zero cross-pairs → zero star edges)") {
    import spark.implicits._
    // live: comp 1 = {1,2,3}, comp 10 = {10,11}, comp 20 = {20,21,22}
    val live = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L), (22L, 20L)).toDF("v", "l")
    val liveMap = live.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a batch whose pairs touch nothing live: ZERO star edges enter the CC
    val freshPairs = Seq((100L, 101L), (101L, 102L)).toDF("a", "b")
    val (aff0, stars0) = DedupMaintenance.affectedSlice(live, freshPairs)
    assert(aff0.isEmpty, "no live component is adjacent to a fresh-docs batch")
    assert(stars0.isEmpty, "zero cross-pairs must slice zero star edges")
    val m0 = DedupMaintenance.mergeLabels(live, freshPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m0 === liveMap ++ Map(100L -> 100L, 101L -> 100L, 102L -> 100L))
    // a pair landing on comp 10's ROOT: only comp 10's one star is sliced
    val rootPair = Seq((10L, 200L)).toDF("a", "b")
    val (aff1, stars1) = DedupMaintenance.affectedSlice(live, rootPair)
    assert(aff1.collect().map(_.getLong(0)).toSet === Set(10L))
    assert(stars1.count() === 1L, "comps 1 and 20 must contribute no stars")
    val m1 = DedupMaintenance.mergeLabels(live, rootPair)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m1 === liveMap ++ Map(200L -> 10L))
    // pairs BRIDGING comps 1 and 20 through a new doc: both slices join,
    // comp 10 is untouched and carried forward VERBATIM
    val bridge = Seq((3L, 300L), (300L, 22L)).toDF("a", "b")
    val (aff2, stars2) = DedupMaintenance.affectedSlice(live, bridge)
    assert(aff2.collect().map(_.getLong(0)).toSet === Set(1L, 20L))
    assert(stars2.count() === 4L, "exactly comps 1 and 20's stars (2 + 2)")
    val m2 = DedupMaintenance.mergeLabels(live, bridge)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m2 === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 300L -> 1L, 20L -> 1L,
      21L -> 1L, 22L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("the sink's scheduled compaction bounds a 10-batch stream to base + newest per store") {
    import spark.implicits._
    val base = tempDir("graft-sched-compact")
    val dir = sf("sf0.001")
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val schema = org.apache.spark.sql.types.StructType(
      docs.schema.filter(_.name == "doc_id"))
    val index = new graft.index.DerbyStatsIndex(s"$base/db", schema)
    index.initialize(schema)
    try {
      // 10 batches through the SINK's commit with compactEvery = 3
      // (folds at batches 3, 6, 9 — the last one right after the final
      // batch's artifacts land, so the stream ENDS at base + newest)
      (0 until 10).foreach { b =>
        graft.streaming.IndexedSink.commitBatch(
          docs.filter(col("doc_id") % 10 === b), b.toLong, s"$base/data",
          index, Seq("doc_id"), hconf,
          dedupArtifacts = Some(s"$base/dd"),
          pairStatsArtifacts = Some(s"$base/ps"),
          compactEvery = 3)
      }
      Seq(s"$base/dd/bands", s"$base/ps/pairdeltas", s"$base/ps/shingles",
          s"$base/ps/ns").foreach { store =>
        val names = new java.io.File(store).listFiles()
          .filter(_.isDirectory).map(_.getName).toSet
        assert(names === Set("base-8", "b9"),
          s"$store not bounded after the 10-batch stream: $names")
      }
      // and the folded stores still serve exactly
      val full = graft.operators.Dedup.connectedComponents(
          graft.operators.Dedup.bandPairs(
            graft.operators.Dedup.bandKeysMapOnly(docs)))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels(s"$base/dd") === full,
        "scheduled compaction diverged the maintained labels")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      assert(rows(DedupMaintenance.currentPairStats(spark, s"$base/ps", hconf)) ===
        rows(graft.operators.Dedup.pairStats(spark, dir)
          .select("a", "b", "c", "na", "nb")),
        "scheduled compaction diverged the maintained pair statistics")
    } finally index.close()
  }

  test("version retention keeps only the live label version") {
    val dir = sf("sf0.001")
    val art = tempDir("graft-dedup-retain")
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    DedupMaintenance.commitBatch(docs.filter(col("doc_id") % 2 === 0), 0L, art, hconf)
    DedupMaintenance.commitBatch(docs.filter(col("doc_id") % 2 === 1), 1L, art, hconf)
    val versions = new java.io.File(s"$art/labels").listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v\\d+")).map(_.getName)
    assert(versions.toSeq === Seq("v1"), s"stale versions left: ${versions.toSeq}")
  }
}
