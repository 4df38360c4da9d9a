package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the `events` stream (SURVEY.md §7.6 —
  * the reference is batch-only; this is the north-star streaming
  * extension): watermarked tumbling-window aggregation and custom
  * session state via `flatMapGroupsWithState`.
  *
  * Scale notes: both operators shuffle once by their grouping key
  * (window+type / user) and keep per-key state O(1); watermarks bound
  * state retention so an unbounded stream cannot grow executor state
  * without bound.
  */
object EventStreams {

  final case class Ev(user_id: Long, us: Long)
  final case class SessState(lastUs: Long, nSessions: Long, nEvents: Long)
  final case class SessCount(user_id: Long, n_sessions: Long, n_events: Long)

  val SessionGapUs: Long = 600L * 1000 * 1000 // 10 minutes

  /** Watermarked hourly counts per event type (streaming analog of the
    * batch q18_event_hourly). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"))

  /** Incremental sessionization: counts 10-minute-gap sessions per user,
    * carrying (last event time, session count) as keyed state across
    * micro-batches. Emits the updated per-user totals each batch.
    * Batch-equivalent: the gaps-and-islands query q28_sessions. */
  def sessionize(events: Dataset[Ev]): Dataset[SessCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessCount](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (user, evs, state: GroupState[SessState]) =>
          val sorted = evs.toSeq.sortBy(_.us)
          var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
          sorted.foreach { e =>
            val isNew = st.lastUs == Long.MinValue || e.us - st.lastUs > SessionGapUs
            st = SessState(math.max(st.lastUs, e.us),
              st.nSessions + (if (isNew) 1 else 0), st.nEvents + 1)
          }
          state.update(st)
          if (sorted.nonEmpty) Iterator(SessCount(user, st.nSessions, st.nEvents))
          else Iterator.empty
      }
  }

  /** Streaming exact dedup: drops events whose id was already seen within
    * the watermark horizon — the streaming analog of dd1_exact, with state
    * bounded by the watermark (an unbounded stream cannot grow dedup state
    * without bound). */
  def dedupStream(events: DataFrame, idCol: String): DataFrame =
    dedupStream(events, "1 hour", Seq(idCol))

  /** Multi-key variant with an explicit watermark horizon. */
  def dedupStream(events: DataFrame, watermarkDelay: String, idCols: Seq[String]): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols)

  /** Stream-stream interval join: each purchase joined to the same user's
    * clicks from the preceding 10 minutes. Both sides carry watermarks so
    * the join state is bounded — Spark drops buffered rows once they can
    * no longer match (the streaming analog of the batch rj1_range_join). */
  def clickToPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
      watermarkDelay: String = "20 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", watermarkDelay)
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val p = purchases.withWatermark("ts", watermarkDelay)
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") < col("p_ts"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"))
  }

  /** File-based stream over a directory of event parquet (one file = one
    * micro-batch when used with maxFilesPerTrigger=1). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  // ---- driver-checked streaming dedup (st1) --------------------------------

  private val streamFixture = scala.collection.concurrent.TrieMap.empty[String, String]

  /** `st1_stream_dedup`: the streaming dedup operator surfaced as a
    * driver-checkable batch result. The events slice is re-materialized
    * (once per sfDir) as 2 ts-range files; a file stream feeds them one
    * micro-batch at a time through `dropDuplicatesWithinWatermark` on
    * (user_id, event_type) with a horizon wider than the dataset, so
    * cross-micro-batch duplicate suppression is genuinely exercised and
    * the emitted set is EXACTLY the distinct keys — deterministic
    * regardless of batch order, hence ANSI-SQL-oracle-checkable
    * (`SELECT DISTINCT …`). Watermark EXPIRY semantics (re-emission after
    * state eviction) are pinned separately in StreamingSpec, where
    * micro-batch timing is controlled.
    *
    * Scale notes: the operator under test is the production operator —
    * state keyed by the dedup key, bounded by the watermark horizon; the
    * memory sink + processAllAvailable are driver-gate harness only (a
    * real deployment writes to a real sink and never collects). */
  /** Once per sfDir: HALF the events table (user_id % 2 = 0 — a
    * user-complete slice, so per-user session/dedup/join semantics are
    * untouched; every st* oracle carries the same predicate)
    * re-materialized as 2 ts-range files so the file source yields one
    * micro-batch per range (shared by st1–st4). Two batches are the
    * MINIMUM that still exercises every cross-micro-batch behavior the
    * gates exist for — duplicate suppression, watermark-window and join
    * buffering, and session stitching across a batch boundary — and the
    * per-batch fixed cost (a state-store commit per partition per
    * stateful operator, per batch) is the dominant term of the gate
    * wall, so fewer, larger batches is strictly cheaper at equal
    * coverage. Finer-grained multi-batch timing semantics are pinned in
    * StreamingSpec on controlled fixtures. */
  private[graft] def streamFixtureDir(s: SparkSession, sfDir: String): String =
    streamFixture.getOrElseUpdate(sfDir + "@" + s.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val out = new java.io.File(s"target/tmp/streamdedup/$safe/events-ts2").getAbsolutePath
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(out, "_SUCCESS"))) {
        graft.Tables.load(s, sfDir, "events")
          .filter(pmod(col("user_id"), lit(2L)) === 0)
          .repartitionByRange(2, col("ts"))
          .write.mode("overwrite").parquet(out)
      }
      // The file source orders micro-batches by MODIFICATION time, and
      // parallel-written parts get arbitrary mtimes — stamp ascending
      // mtimes in part (= ts-range) order so batches arrive in event
      // time, emulating an in-order source (a Kafka partition). Order-
      // insensitive gates (st1/st2/st3's wide-horizon variants) don't
      // need this; st4's session stitching does. Stamped UNCONDITIONALLY
      // (not only on first materialization): a fixture left behind by a
      // pre-stamping run would otherwise be reused with arbitrary mtimes
      // and silently break st4 on a stale working tree.
      val parts = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      parts.zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.setLastModifiedTime(f.toPath,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      }
      out
    })

  /** Stateful-stream sizing for the driver-gate queries: a streaming query
    * creates one state store per shuffle partition per stateful operator
    * and COMMITS each store every micro-batch — at the session default of
    * 32 that is 32 near-empty store commits per batch for a fixture of a
    * few thousand keys, pure fixed overhead. State-partition count is the
    * standard sizing knob (fixed at first start by the checkpoint; these
    * gate queries start fresh each run); a production deployment sizes it
    * to key cardinality and throughput. Restored after the query stops.
    *
    * NOT CONCURRENCY-SAFE: this mutates the session-global shuffle
    * partition count for the query's whole duration — a batch query or a
    * second gate run concurrently on the SAME SparkSession would silently
    * execute with the forced value (or see a racy restore). The driver
    * gates and the bench run queries strictly sequentially; a concurrent
    * caller must use a dedicated `spark.newSession()`. */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    // r17: NO-DATA micro-batches disabled for the gate queries (restored
    // after). After the last data batch, a stateful query otherwise runs
    // one more full micro-batch cycle (plan + state-store commit per
    // partition per operator) purely to advance the watermark — and every
    // gate here emits its complete result from the DATA batches alone:
    // st1's dedup appends first-seen rows immediately, st2 is complete
    // mode, st3's inner interval join emits on match (nothing is late or
    // evicted under the wide horizon), st4's update-mode sessionizer
    // emits per data batch and NoTimeout state never fires without data.
    // Watermark-EXPIRY semantics (which DO need the no-data batch) are
    // pinned in StreamingSpec on its own queries, not through this helper.
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNd = s.conf.get(ndKey)
    s.conf.set(ndKey, "false")
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally {
      s.conf.set(key, prev)
      s.conf.set(ndKey, prevNd)
    }
  }

  def streamDedupQuery(s: SparkSession, sfDir: String): DataFrame = {
    val dir = streamFixtureDir(s, sfDir)
    val src = readEventStream(s, dir)
    val sinkName = "graft_st1_sink"
    s.catalog.dropTempView(sinkName) // stale sink from a previous run
    withStatePartitions(s, 8) {
      val q = dedupStream(src, "3650 days", Seq("user_id", "event_type"))
        .select("user_id", "event_type")
        .writeStream.format("memory").queryName(sinkName).outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(sinkName)
  }

  /** `st2_stream_hourly`: the watermarked-window aggregation surfaced as a
    * driver-checkable batch result (the streaming analog of
    * q18_event_hourly, same oracle shape). The same ts-range file fixture
    * feeds micro-batches; the sink runs in COMPLETE mode so the final
    * table carries every window — including ones the watermark has not
    * closed — making the result deterministic in file order and equal to
    * the batch aggregation. Append-mode emission/closure semantics are
    * pinned separately in StreamingSpec where micro-batch timing is
    * controlled; this row pins the VALUES cross-engine. */
  def streamHourlyQuery(s: SparkSession, sfDir: String): DataFrame = {
    val dir = streamFixtureDir(s, sfDir)
    val sinkName = "graft_st2_sink"
    s.catalog.dropTempView(sinkName)
    withStatePartitions(s, 8) {
      val q = hourlyCounts(readEventStream(s, dir))
        .writeStream.format("memory").queryName(sinkName).outputMode("complete")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(sinkName)
  }

  /** `st3_stream_join`: the stream-stream interval join surfaced as a
    * driver-checkable batch result. Both sides read the same ts-range file
    * fixture; inner interval joins in append mode emit exactly the matched
    * pairs. The gate variant runs with a watermark horizon wider than the
    * dataset's time span (st1's trick): the file source orders
    * micro-batches by file MODIFICATION time, not by ts range, so a
    * later-range file processed first would advance the watermark and
    * silently drop earlier files as late — with the wide horizon nothing
    * is ever late or evicted and the emitted set is EXACTLY the interval
    * join, batch-order-independent and ANSI-SQL-checkable. The production
    * 20-minute horizon's eviction/late-drop semantics are pinned
    * separately in StreamingSpec where micro-batch timing is controlled.
    *
    * Scale notes: the production operator — per-key buffered state bounded
    * by watermark + interval bound on BOTH sides; memory sink +
    * processAllAvailable are driver-gate harness only. */
  def streamJoinQuery(s: SparkSession, sfDir: String): DataFrame = {
    val dir = streamFixtureDir(s, sfDir)
    val src = readEventStream(s, dir)
    val sinkName = "graft_st3_sink"
    s.catalog.dropTempView(sinkName)
    // 4, not the gate default 8: the interval join keeps TWO stateful
    // sides, so its per-batch fixed cost is 2× state-store commits per
    // partition — halving partitions halves the dominant fixed term while
    // ~1500 user keys still spread fine over 4 stores
    withStatePartitions(s, 4) {
      val q = clickToPurchaseJoin(
        src.filter(col("event_type") === "click"),
        src.filter(col("event_type") === "purchase"),
        watermarkDelay = "3650 days")
        .writeStream.format("memory").queryName(sinkName).outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(sinkName)
  }

  /** `st4_stream_sessions`: the custom-state sessionizer
    * (`flatMapGroupsWithState`) surfaced as a driver-checkable batch
    * result. Each update-mode emission carries the user's running
    * (session, event) counters; both are MONOTONE, so `max` over the
    * memory sink's appended emissions equals the final state — and the
    * ts-range fixture feeds each user's events in global time order
    * across batches, so the final counters equal the batch
    * gaps-and-islands result (q28's oracle verbatim). Ties in `us` fall
    * in the same session regardless of order (gap 0), so per-batch sort
    * order cannot diverge from the oracle's (us, event_id) order. */
  def streamSessionsQuery(s: SparkSession, sfDir: String): DataFrame = {
    val dir = streamFixtureDir(s, sfDir)
    import s.implicits._
    val sinkName = "graft_st4_sink"
    s.catalog.dropTempView(sinkName)
    withStatePartitions(s, 8) {
      val src = readEventStream(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us")).as[Ev]
      val q = sessionize(src).toDF()
        .writeStream.format("memory").queryName(sinkName).outputMode("update")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(sinkName).groupBy("user_id")
      .agg(max(col("n_sessions")).as("n_sessions"),
        max(col("n_events")).as("n_events"))
  }

  // ---- st9: streamed day-partitioned ingest + catalog-served rollup -------

  /** Recursive delete of a per-run temp dir (same contract as
    * DocumentStreams.rmrf: run AFTER the result is materialized). */
  private def rmrf(p: String): Unit = {
    def del(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(del)
      f.delete(); ()
    }
    del(new java.io.File(p))
  }

  /** Shared per-run temp teardown: close the index connection, shut the
    * booted Derby engine down BEFORE its directory goes away, then delete
    * the temp copy. close() may itself throw (e.g. connection already
    * dead) — NonFatal failures are expected there and swallowed so the
    * shutdown + rmrf still run; a FATAL error (OutOfMemoryError,
    * InterruptedException) still propagates, after the cleanup, so the
    * temp copy never leaks on that path either. */
  private[streaming] def cleanupIndexTemp(
      index: graft.index.DerbyStatsIndex, base: String): Unit = {
    val fatal = try { index.close(); None } catch {
      case scala.util.control.NonFatal(_) => None
      case t: Throwable => Some(t)
    }
    graft.index.DerbyStatsIndex.shutdownDatabase(s"$base/db")
    rmrf(base)
    fatal.foreach(throw _)
  }

  private val dayStream = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Once per sfDir: the FIRST FOUR calendar days of events, one parquet
    * file per day with ascending mtimes — the file source then replays
    * daily ingest one micro-batch per day, the canonical shape of a
    * streaming warehouse feed. Four days is the minimum that gives the
    * day-of-week rollup multiple groups AND multiple batches. */
  private[graft] def dayStreamDir(s: SparkSession, sfDir: String): String =
    dayStream.getOrElseUpdate(sfDir + "@" + s.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val out = new java.io.File(s"target/tmp/streamdedup/$safe/events-day4").getAbsolutePath
      val outPath = java.nio.file.Paths.get(out)
      if (!java.nio.file.Files.exists(outPath.resolve("_SUCCESS"))) {
        val src = graft.Tables.load(s, sfDir, "events")
        val days = src.select(to_date(col("ts")).as("d")).distinct()
          .orderBy("d").limit(4).collect().map(_.getDate(0))
        java.nio.file.Files.createDirectories(outPath)
        graft.operators.Indexed.withMicrosTimestamps(s) {
          days.zipWithIndex.foreach { case (d, i) =>
            val stage = s"$out-stage"
            src.filter(to_date(col("ts")) === lit(d))
              .coalesce(1).write.mode("overwrite").parquet(stage)
            val part = new java.io.File(stage).listFiles()
              .filter(_.getName.endsWith(".parquet")).head
            val tgt = outPath.resolve(f"day-$i%02d.parquet")
            java.nio.file.Files.deleteIfExists(tgt)
            java.nio.file.Files.move(part.toPath, tgt)
          }
        }
        rmrf(s"$out-stage")
        java.nio.file.Files.createFile(outPath.resolve("_SUCCESS"))
      }
      // ascending mtimes in day order (see streamFixtureDir's rationale) —
      // stamped unconditionally so a stale fixture can't arrive reordered
      val parts = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      parts.zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.setLastModifiedTime(f.toPath,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      }
      out
    })

  /** Stream the 4-day fixture through [[IndexedSink]] (footer stats
    * always; each requested shadow ledger maintained per micro-batch),
    * hand the body the INDEXED read of the maintained table plus the
    * index itself (for explicit-API capabilities like approxDistinct),
    * then tear the temp copy down on every path. The body's answers must
    * come from the catalog the SINK built — nothing is re-indexed after
    * the stream stops.
    *
    * r16: each gate maintains ONLY the ledger its query consumes (st9
    * the sum fold, st10 the HLL estimate, st11 the quantile estimate,
    * st12/st13 footer stats alone) — maintaining all three per gate was
    * redundant coverage paid 4 batches × 2 timed runs × 5 gates per
    * bench (guide §1.2: don't compute what the query throws away); the
    * ALL-ledgers-through-one-sink composition stays pinned by
    * IndexedSinkSpec's shadow-maintenance test and LedgerFusionSpec. */
  private[graft] def withStreamedDayparts[T](s: SparkSession, sfDir: String,
      sumCols: Seq[String] = Seq("user_id"),
      hllCols: Seq[String] = Nil,
      quantileCols: Seq[String] = Nil)(
      body: (DataFrame, graft.index.DerbyStatsIndex) => T): T =
    withStreamedDaypartsFull(s, sfDir, sumCols, hllCols, quantileCols)(
      (df, ix, _, _) => body(df, ix))

  /** [[withStreamedDayparts]] plus the maintained table's data dir and
    * schema — the handles version-aware reads (IndexedSink.readAsOf)
    * need. */
  private[graft] def withStreamedDaypartsFull[T](s: SparkSession, sfDir: String,
      sumCols: Seq[String] = Seq("user_id"),
      hllCols: Seq[String] = Nil,
      quantileCols: Seq[String] = Nil)(
      body: (DataFrame, graft.index.DerbyStatsIndex, String,
        org.apache.spark.sql.types.StructType) => T): T = {
    val dir = dayStreamDir(s, sfDir)
    val base = java.nio.file.Files.createTempDirectory("graft-st9").toString
    val srcSchema = s.read.parquet(dir).schema
    val idxCols = Seq("ts", "event_id", "user_id")
    val idxSchema = org.apache.spark.sql.types.StructType(
      srcSchema.filter(f => idxCols.contains(f.name)))
    // r17: template-copied fresh catalog — the ~0.5–0.7 s of per-create
    // Derby DDL is paid once per JVM, not once per timed gate run
    // (schema-only; the catalog's CONTENT still comes from this run's
    // own ingest)
    val index = graft.index.DerbyStatsIndex.freshInitialized(
      s"$base/db", idxSchema)
    try {
      val src = s.readStream.schema(srcSchema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      // the SINK's rewrite must emit TIMESTAMP_MICROS: INT96 carries no
      // footer statistics, and a stats-less ts column would silently
      // reduce every certificate to a full scan (same precondition as
      // the batch fixtures — see Indexed.timeEntry's -v2 note)
      val q = graft.operators.Indexed.withMicrosTimestamps(s) {
        val started = IndexedSink.start(src, s"$base/data", index, idxCols,
          s"$base/ckpt", sumShadowCols = sumCols,
          hllShadowCols = hllCols,
          quantileShadowCols = quantileCols)
        try started.awaitTermination() finally started.stop()
        started
      }
      q.exception.foreach(e => throw e)
      val (df, _) = graft.sources.IndexedParquet.read(
        s, s"$base/data", index, srcSchema)
      body(df, index, s"$base/data", srcSchema)
    } finally cleanupIndexTemp(index, base)
  }

  /** `st9_stream_dayparts`: the day-of-week seasonality rollup served
    * from the catalog a STREAMING sink maintained — each day's
    * micro-batch ingests its footer stats and sum-ledger rows, and the
    * determined-part fold (idx48's certificate) answers from exactly
    * those rows. Incremental-ingest-equals-batch for the r13 certificate
    * family, through the streaming seam; StreamedDaypartsSpec pins that
    * the plan really folds (zero data jobs) and equals the scan. */
  def streamDaypartsQuery(s: SparkSession, sfDir: String): DataFrame =
    withStreamedDayparts(s, sfDir) { (df, _) =>
      df.groupBy(dayofweek(col("ts")).as("dow"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("su"),
          min(col("ts")).as("mnts"), max(col("ts")).as("mxts"))
        .localCheckpoint()
    }

  /** `st10_stream_ndv`: continuous DISTINCT-count maintenance — each
    * day's micro-batch sketches its new files into the HLL ledger
    * (IndexedSink's `hllShadowCols`), and the distinct-user estimate is
    * then served from exactly the catalog the sink built, zero data jobs
    * (the one scan below is the EXACT side of the accuracy boolean, sk1
    * convention — estimates are hash-specific, so the driver-visible
    * output is |est − exact| within 4σ of HLL's rse). The streaming
    * story mirrors st9: incremental-ingest-equals-batch, now for the
    * sketch ledger. */
  def streamNdvQuery(s: SparkSession, sfDir: String): DataFrame =
    withStreamedDayparts(s, sfDir,
        sumCols = Nil, hllCols = Seq("user_id")) { (df, index) =>
      val est = index.approxDistinct("user_id").getOrElse(
        sys.error("sink-maintained catalog declined the NDV estimate"))
      val exact = df.agg(countDistinct(col("user_id")))
        .collect()(0).getLong(0)
      import s.implicits._
      Seq(math.abs(est - exact) <= math.max(4L, (exact * 0.092).toLong))
        .toDF("stream_ndv_ok")
    }

  /** `st11_stream_quantile`: continuous QUANTILE maintenance — each
    * day's micro-batch summarizes its new files into the quantile ledger
    * (IndexedSink's `quantileShadowCols`), and the user_id percentile
    * estimate is served from exactly the catalog the sink built, zero
    * data jobs (the scan below is the EXACT side of the accuracy
    * boolean, sk1 convention: the merged-summary rank error is
    * ≤ N/(2K) ≈ 0.78 %, checked against the exact ±3 %-rank bracket). */
  def streamQuantileQuery(s: SparkSession, sfDir: String): DataFrame =
    withStreamedDayparts(s, sfDir,
        sumCols = Nil, quantileCols = Seq("user_id")) { (df, index) =>
      val Seq(est50, est90) = index
        .approxQuantiles("user_id", Seq(0.5, 0.9))
        .getOrElse(sys.error("sink-maintained catalog declined the quantile"))
      val b = df.agg(
          expr("percentile(user_id, array(0.47, 0.53, 0.87, 0.93))"))
        .collect()(0).getSeq[Double](0)
      import s.implicits._
      Seq((est50 >= b(0) && est50 <= b(1), est90 >= b(2) && est90 <= b(3)))
        .toDF("stream_p50_ok", "stream_p90_ok")
    }

  /** `st12_stream_semijoin`: the AUTOMATIC semi-join pruning rule
    * (plans/JoinPruneRule) firing on a catalog a STREAMING sink built —
    * a plain `fact.join(dim, k)` over the maintained table scans only
    * the row groups holding a dim key. event_id is ingest-sequential,
    * so each daily batch file covers a disjoint id range and three point
    * keys (min, mid, max — derived from the CATALOG's certified
    * extremes, zero data jobs) prune the four day files to at most
    * three. The same derivation is pure SQL for the oracle; a mid key
    * that happens not to exist matches nothing on both sides. */
  def streamSemijoinQuery(s: SparkSession, sfDir: String): DataFrame =
    withStreamedDayparts(s, sfDir, sumCols = Nil) { (df, index) =>
      val lo = index.minIndexedValue("event_id")
        .getOrElse(sys.error("catalog declined the event_id min"))
        .asInstanceOf[Number].longValue
      val hi = index.maxIndexedValue("event_id")
        .getOrElse(sys.error("catalog declined the event_id max"))
        .asInstanceOf[Number].longValue
      import s.implicits._
      val dim = Seq(lo, (lo + hi) / 2, hi).toDF("k")
      df.join(dim, df("event_id") === dim("k"), "left_semi")
        .select("event_id", "user_id", "event_type")
        .localCheckpoint()
    }

  /** `st13_time_travel`: the sink-maintained table read AS OF an earlier
    * batch (IndexedSink.readAsOf) — each daily micro-batch is a version,
    * the deterministic `b<id>-<k>` names are the manifest, and the
    * snapshot's file set derives from the CATALOG alone. AS OF batch 1 =
    * the first two ingested days; the per-day rollup over that snapshot
    * must equal the batch answer over those days (which is the oracle). */
  def streamTimeTravelQuery(s: SparkSession, sfDir: String): DataFrame =
    withStreamedDaypartsFull(s, sfDir, sumCols = Nil) { (_, index, dataDir, schema) =>
      IndexedSink.readAsOf(s, dataDir, index, schema, maxBatchId = 1L,
          requiredCols = Seq("ts", "user_id"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("su"))
        .localCheckpoint()
    }

  val defs: Seq[graft.QueryDef] = Seq(
    graft.QueryDef(
      "st13_time_travel",
      (s, dir) => streamTimeTravelQuery(s, dir),
      Some("""WITH days AS (
             |  SELECT DISTINCT CAST(ts AS DATE) AS d FROM events ORDER BY 1 LIMIT 2)
             |SELECT CAST(ts AS DATE) AS day, count(*) AS n,
             |  CAST(sum(user_id) AS BIGINT) AS su
             |FROM events WHERE CAST(ts AS DATE) IN (SELECT d FROM days)
             |GROUP BY 1""".stripMargin)),
    graft.QueryDef(
      "st10_stream_ndv",
      (s, dir) => streamNdvQuery(s, dir),
      Some("SELECT TRUE AS stream_ndv_ok")),
    graft.QueryDef(
      "st12_stream_semijoin",
      (s, dir) => streamSemijoinQuery(s, dir),
      Some("""WITH days AS (
             |  SELECT DISTINCT CAST(ts AS DATE) AS d FROM events ORDER BY 1 LIMIT 4),
             |e AS (SELECT * FROM events WHERE CAST(ts AS DATE) IN (SELECT d FROM days)),
             |b AS (SELECT min(event_id) AS lo, max(event_id) AS hi FROM e)
             |SELECT event_id, user_id, event_type FROM e, b
             |WHERE event_id IN (lo, (lo + hi) // 2, hi)""".stripMargin)),
    graft.QueryDef(
      "st11_stream_quantile",
      (s, dir) => streamQuantileQuery(s, dir),
      Some("SELECT TRUE AS stream_p50_ok, TRUE AS stream_p90_ok")),
    graft.QueryDef(
      "st9_stream_dayparts",
      (s, dir) => streamDaypartsQuery(s, dir),
      Some("""SELECT dayofweek(ts) + 1 AS dow, count(*) AS n,
             |  CAST(sum(user_id) AS BIGINT) AS su,
             |  min(ts) AS mnts, max(ts) AS mxts
             |FROM events
             |WHERE CAST(ts AS DATE) IN (
             |  SELECT DISTINCT CAST(ts AS DATE) FROM events ORDER BY 1 LIMIT 4)
             |GROUP BY 1""".stripMargin)),
    graft.QueryDef(
      "st1_stream_dedup",
      (s, dir) => streamDedupQuery(s, dir),
      Some("SELECT DISTINCT user_id, event_type FROM events WHERE user_id % 2 = 0")),
    graft.QueryDef(
      "st2_stream_hourly",
      (s, dir) => streamHourlyQuery(s, dir),
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
             |FROM events WHERE user_id % 2 = 0 GROUP BY 1, 2""".stripMargin)),
    graft.QueryDef(
      "st3_stream_join",
      (s, dir) => streamJoinQuery(s, dir),
      Some("""SELECT p.event_id AS purchase_id, c.event_id AS click_id,
             |  p.user_id AS user_id
             |FROM events p JOIN events c
             |  ON p.event_type = 'purchase' AND c.event_type = 'click'
             | AND p.user_id = c.user_id
             | AND c.ts >= p.ts - INTERVAL 10 MINUTE
             | AND c.ts < p.ts
             |WHERE p.user_id % 2 = 0""".stripMargin)),
    graft.QueryDef(
      "st4_stream_sessions",
      (s, dir) => streamSessionsQuery(s, dir),
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events
             |  WHERE user_id % 2 = 0),
             |m AS (SELECT user_id, event_id, us,
             |    lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
             |  FROM e),
             |sess AS (SELECT user_id,
             |    sum(CASE WHEN prev IS NULL OR us - prev > 600000000 THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY user_id ORDER BY us, event_id
             |            ROWS UNBOUNDED PRECEDING) AS sess
             |  FROM m)
             |SELECT user_id, CAST(max(sess) AS BIGINT) AS n_sessions, count(*) AS n_events
             |FROM sess GROUP BY user_id""".stripMargin)))
}
