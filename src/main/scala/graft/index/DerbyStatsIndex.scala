package graft.index

import graft.prune.{ExprToDerbySql, StatsPredicateRewriter}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

import java.sql.{Connection, DriverManager, PreparedStatement}
import scala.collection.immutable.SortedSet
import scala.collection.mutable

/** Embedded-Derby implementation of [[StatsIndex]] — the stand-in for the
  * reference's "remote" SQLite catalog (/root/reference/sqlx-sqlite/README.md:5;
  * the reference itself notes SQLite is a stand-in for a network-attached
  * relational catalog). Everything crosses a JDBC seam exactly like the
  * reference crosses SQLx, so swapping in a real remote catalog DB is a URL
  * change.
  *
  * Schema mirrors `index.rs:332-393`:
  *   file_statistics(file_id identity PK, file_name UNIQUE, file_size_bytes,
  *                   row_group_count, row_count)
  *   row_group_statistics(file_id FK ON DELETE CASCADE, row_group, row_count,
  *                        {col}_null_count, {col}_min, {col}_max,
  *                        PRIMARY KEY(file_id, row_group))
  *
  * Scale note (100 TB): this store holds one row per row group, not per data
  * row — a 100 TB table at 128 MB row groups is ~800k rows, trivially handled
  * by any RDBMS; the pruning query stays O(index), never O(data).
  */
final class DerbyStatsIndex(
    dbPath: String,
    val indexedSchema: StructType,
    override val bloomCols: Set[String] = Set.empty,
    // portability fallback: probe blooms PLANNER-side (candidate bloom
    // bytes ship out of the catalog) instead of registering JVM probe
    // functions inside the store — for catalogs that can't host them
    val plannerSideBloomProbe: Boolean = false,
    // planner-probe transfer cap: more min/max-surviving candidates than
    // this and the bloom step is skipped (over-scan, never wrong) rather
    // than shipping an unbounded byte volume; 16384 × the 4 KB bloom cap
    // = 64 MB worst case
    val maxPlannerProbeRowGroups: Int = 16384)
    extends StatsIndex {

  DerbyStatsIndex.ensureDriver()

  private val conn: Connection =
    DriverManager.getConnection(s"jdbc:derby:$dbPath;create=true")
  conn.setAutoCommit(true)

  private val indexedCols: Seq[StructField] =
    indexedSchema.fields.toSeq.filter(f => FooterStats.supported(f.dataType))

  // ---- DDL (I1, index.rs:331-393) -----------------------------------------

  /** Spark type → Derby column type for min/max storage. Timestamps are
    * BIGINT microseconds, dates INTEGER days (matching Catalyst internals
    * so pushed-down literals compare directly). */
  private def derbyType(dt: DataType): String = dt match {
    case ByteType | ShortType => "SMALLINT"
    case IntegerType          => "INTEGER"
    case LongType             => "BIGINT"
    case FloatType            => "REAL"
    case DoubleType           => "DOUBLE"
    case StringType           => s"VARCHAR(${DerbyStatsIndex.MaxStringLen})"
    case BinaryType           => s"VARCHAR(${DerbyStatsIndex.MaxStringLen}) FOR BIT DATA"
    case TimestampType | TimestampNTZType => "BIGINT"
    case DateType             => "INTEGER"
    // r13: store DECIMAL stats at full Derby precision, preserving the
    // column's scale — ingest is gated to precision <= 31
    // (FooterStats.supported), so every value fits losslessly
    case d: DecimalType       => s"DECIMAL(31, ${d.scale})"
    case other => throw new IllegalArgumentException(s"unindexable type $other")
  }

  override def initialize(schema: StructType): Unit = {
    require(schema == indexedSchema, "index was constructed for a different schema")
    val st = conn.createStatement()
    def createIfMissing(ddl: String): Unit =
      try st.execute(ddl)
      catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () } // exists
    createIfMissing(
      """CREATE TABLE file_statistics (
        |  file_id INTEGER NOT NULL GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
        |  file_name VARCHAR(1024) NOT NULL UNIQUE,
        |  file_size_bytes BIGINT NOT NULL,
        |  row_group_count INTEGER NOT NULL,
        |  row_count BIGINT NOT NULL)""".stripMargin)
    val statCols = indexedCols.flatMap { f =>
      val t = derbyType(f.dataType)
      Seq(s"${f.name}_null_count BIGINT", s"${f.name}_min $t", s"${f.name}_max $t") ++
        // ORDER-PRESERVING shadow of string min/max: uppercase hex of the
        // stored value's UTF-8 bytes. Derby compares VARCHAR by UTF-16
        // code unit (diverges from Spark's code-point order above U+E000),
        // but hex digits are plain ASCII, so Derby's ordered reads over
        // the shadow equal UTF-8 byte order — certifying the catalog-side
        // top-k fast path for string sort keys (topKSurvivors)
        (if (f.dataType == StringType)
           Seq(s"${f.name}_min_hex VARCHAR(${DerbyStatsIndex.MaxHexLen})",
             s"${f.name}_max_hex VARCHAR(${DerbyStatsIndex.MaxHexLen})",
             // min-is-exact marker (r11): 1 = the stored min is the VERBATIM
             // footer minimum, 0 = truncated to a lower bound. Maxima need
             // no marker (over-long ones are dropped to NULL, so any stored
             // max is verbatim by construction). Lets the ASC-side
             // frequency certificate pair a count with the stored min on
             // exactly the groups where that is sound.
             s"${f.name}_min_exact SMALLINT") else Nil) ++
        // per-row-group bloom, attached post-ingest by BloomIndex.build;
        // NULL until then ("unknown ⇒ might match" like every other stat)
        (if (bloomCols.contains(f.name))
           Seq(s"${f.name}_bloom VARCHAR(32672) FOR BIT DATA") else Nil) ++
        // value-frequency shadow (rows at the real min / max), attached
        // post-ingest by FreqShadow.build; NULL until then
        (if (FreqShadow.supported(f.dataType))
           Seq(s"${f.name}_min_freq BIGINT", s"${f.name}_max_freq BIGINT")
         else Nil) ++
        // per-row-group sum shadow, attached post-ingest by
        // SumShadow.build; NULL until then
        (if (SumShadow.supported(f.dataType))
           Seq(s"${f.name}_sum BIGINT") else Nil) ++
        // per-row-group HLL register ledger (r15), attached post-ingest
        // by HllShadow.build; NULL until then ("no sketch ⇒ no estimate")
        (if (HllShadow.supported(f.dataType))
           Seq(s"${f.name}_hll VARCHAR(32672) FOR BIT DATA") else Nil) ++
        // per-row-group quantile summary (r15), attached post-ingest by
        // QuantileShadow.build; NULL until then (fail-closed estimate)
        (if (QuantileShadow.supported(f.dataType))
           Seq(s"${f.name}_qsk VARCHAR(32672) FOR BIT DATA") else Nil) ++
        // per-row-group count-min table (r15), attached post-ingest by
        // CmsShadow.build; NULL until then (fail-closed estimate)
        (if (CmsShadow.supported(f.dataType))
           Seq(s"${f.name}_cms VARCHAR(32672) FOR BIT DATA") else Nil)
    }
    createIfMissing(
      s"""CREATE TABLE row_group_statistics (
         |  file_id INTEGER NOT NULL REFERENCES file_statistics(file_id) ON DELETE CASCADE,
         |  row_group INTEGER NOT NULL,
         |  row_count BIGINT NOT NULL,
         |  rg_start_bytes BIGINT NOT NULL,
         |  rg_compressed_bytes BIGINT NOT NULL${if (statCols.isEmpty) "" else statCols.mkString(",\n  ", ",\n  ", "")},
         |  PRIMARY KEY (file_id, row_group))""".stripMargin)
    if (bloomCols.nonEmpty && !plannerSideBloomProbe) {
      // in-catalog bloom probes: the pruning query evaluates these against
      // the stored bloom bytes inside Derby — bytes never leave the store.
      // X0Y68 = alias already exists (idempotent re-init).
      def createFnIfMissing(ddl: String): Unit =
        try st.execute(ddl)
        catch { case e: java.sql.SQLException if e.getSQLState == "X0Y68" => () }
      createFnIfMissing(
        """CREATE FUNCTION GRAFT_BLOOM_LONG(BLOOM VARCHAR(32672) FOR BIT DATA, V BIGINT)
          |RETURNS INTEGER LANGUAGE JAVA PARAMETER STYLE JAVA NO SQL DETERMINISTIC
          |RETURNS NULL ON NULL INPUT
          |EXTERNAL NAME 'graft.index.BloomProbe.mightContainLong'""".stripMargin)
      createFnIfMissing(
        """CREATE FUNCTION GRAFT_BLOOM_STR(BLOOM VARCHAR(32672) FOR BIT DATA, V VARCHAR(1024))
          |RETURNS INTEGER LANGUAGE JAVA PARAMETER STYLE JAVA NO SQL DETERMINISTIC
          |RETURNS NULL ON NULL INPUT
          |EXTERNAL NAME 'graft.index.BloomProbe.mightContainString'""".stripMargin)
    }
    // upgrade path: freq shadow / min-exact columns on a catalog created
    // before they existed (X0Y32 = column already there — the normal
    // case). A pre-upgrade catalog's NULL markers read as "unknown ⇒
    // unusable", which is the sound default for rows ingested before the
    // marker was recorded.
    indexedCols.foreach { f =>
      ((if (FreqShadow.supported(f.dataType))
          Seq(s"${f.name}_min_freq BIGINT", s"${f.name}_max_freq BIGINT")
        else Nil) ++
        (if (f.dataType == StringType)
          Seq(s"${f.name}_min_exact SMALLINT") else Nil) ++
        (if (SumShadow.supported(f.dataType))
          Seq(s"${f.name}_sum BIGINT") else Nil) ++
        (if (HllShadow.supported(f.dataType))
          Seq(s"${f.name}_hll VARCHAR(32672) FOR BIT DATA") else Nil) ++
        (if (QuantileShadow.supported(f.dataType))
          Seq(s"${f.name}_qsk VARCHAR(32672) FOR BIT DATA") else Nil) ++
        (if (CmsShadow.supported(f.dataType))
          Seq(s"${f.name}_cms VARCHAR(32672) FOR BIT DATA") else Nil)).foreach { c =>
        try st.execute(s"ALTER TABLE row_group_statistics ADD COLUMN $c")
        catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }
      }
    }
    st.close()
  }

  // ---- ingest (I3, index.rs:242-329) ---------------------------------------

  override def addFile(stats: FileStats): Unit = conn.synchronized {
    DerbyStatsIndex.ingestFile(conn, indexedCols, stats)
  }

  /** Executor-side ingest: each partition opens its own JDBC connection to
    * the catalog (embedded Derby supports concurrent same-JVM connections;
    * a network catalog is a URL change) and runs the same per-file
    * transactional upsert — the driver never materializes the stats. */
  override def ingestAll(stats: org.apache.spark.rdd.RDD[FileStats]): Unit = {
    val url = s"jdbc:derby:$dbPath"
    val cols = indexedCols
    val ingested = stats.sparkContext.longAccumulator("graft.ingestedRowGroups")
    stats.foreachPartition { (it: Iterator[FileStats]) =>
      DerbyStatsIndex.ensureDriver()
      val c = DriverManager.getConnection(url)
      try it.foreach { s =>
        DerbyStatsIndex.ingestFile(c, cols, s)
        ingested.add(s.rowGroups.size.toLong)
      }
      finally c.close()
    }
    // settle only after a genuinely BULK load: streaming sinks call
    // ingestAll per micro-batch, and paying an O(catalog) statistics
    // rebuild per small batch would be the scale bug this guards against
    if (ingested.value >= DerbyStatsIndex.SettleThresholdRowGroups)
      settleAfterBulkIngest()
  }

  /** Absorb the deferred cost of a bulk ingest NOW, on the ingest path,
    * instead of letting the first planning query pay it: a checkpoint
    * flushes the burst's dirty pages (the first post-ingest scan
    * otherwise contends with the background writer — measured 34 s vs
    * 0.3 s warm on a 1M-row-group catalog), and fresh index cardinality
    * statistics keep the optimizer off degenerate join orders for the
    * pruning walk. Both are proportional to the ingest they follow;
    * failures degrade silently (the catalog stays correct — only the
    * first-query latency and plan quality are at stake). */
  private def settleAfterBulkIngest(): Unit = conn.synchronized {
    val st = conn.createStatement()
    try {
      try st.execute("CALL SYSCS_UTIL.SYSCS_CHECKPOINT_DATABASE()")
      catch { case _: java.sql.SQLException => () }
      Seq("FILE_STATISTICS", "ROW_GROUP_STATISTICS").foreach { t =>
        try st.execute(
          s"CALL SYSCS_UTIL.SYSCS_UPDATE_STATISTICS('APP', '$t', NULL)")
        catch { case _: java.sql.SQLException => () }
      }
    } finally st.close()
  }
  override def retainOnly(fileNames: Set[String]): Unit = {
    val st = conn.createStatement()
    val rs = st.executeQuery("SELECT file_id, file_name FROM file_statistics")
    val stale = mutable.ArrayBuffer.empty[Int]
    while (rs.next()) if (!fileNames.contains(rs.getString(2))) stale += rs.getInt(1)
    rs.close(); st.close()
    if (stale.nonEmpty) {
      val del = conn.prepareStatement(
        "DELETE FROM file_statistics WHERE file_id = ?") // FK cascades to rg stats
      stale.foreach { id => del.setInt(1, id); del.addBatch() }
      del.executeBatch(); del.close()
    }
  }

  override def removeFiles(fileNames: Set[String]): Unit = conn.synchronized {
    if (fileNames.nonEmpty) {
      val del = conn.prepareStatement(
        "DELETE FROM file_statistics WHERE file_name = ?") // FK cascades to rg stats
      fileNames.foreach { n => del.setString(1, n); del.addBatch() }
      del.executeBatch(); del.close()
    }
  }

  // ---- pruning query (P1/P5, index.rs:102-176) ------------------------------

  override def getFiles(predicate: Expression): Seq[FileScanPlan] = {
    val statsPred = StatsPredicateRewriter.rewrite(
      predicate, indexedCols.map(_.name).toSet, bloomCols)
    // a failing pruning query (e.g. arithmetic overflow on extreme stats)
    // must degrade to a full scan, never to a query error — same
    // conservative contract as the TRUE fallback (conversions.rs:32)
    try {
      if (plannerSideBloomProbe &&
          statsPred.exists(_.isInstanceOf[graft.prune.BloomMightContain]))
        plannerProbedPlans(statsPred)
      else runPlanQuery(planSql(ExprToDerbySql.print(statsPred)))
    } catch { case _: java.sql.SQLException => allFiles() }
  }

  private def planSql(whereSql: String, extraSelect: Seq[String] = Nil): String =
    s"""SELECT f.file_name, f.file_size_bytes, f.row_group_count, rg.row_group,
       |  rg.rg_start_bytes, rg.rg_compressed_bytes, rg.row_count${
        if (extraSelect.isEmpty) "" else extraSelect.mkString(",\n  ", ",\n  ", "")}
       |FROM row_group_statistics rg
       |JOIN file_statistics f ON rg.file_id = f.file_id
       |WHERE $whereSql
       |ORDER BY f.file_name, rg.row_group""".stripMargin

  /** Portability path: the same pruning decision via PORTABLE SQL only.
    * Phase 1 (in-catalog, bloom terms as TRUE) narrows candidates to the
    * min/max survivors; their bloom bytes and the 0/1 verdicts of every
    * bloom-free subtree ship with the plan rows, and the And/Or spine is
    * re-evaluated planner-side as rows stream (PlannerBloom's Kleene
    * argument: identical kept set to the in-catalog rendering). Bounded:
    * if more than `maxPlannerProbeRowGroups` candidates survive min/max,
    * skip the bloom step entirely (over-scan) instead of shipping an
    * unbounded byte volume. */
  private def plannerProbedPlans(statsPred: Expression): Seq[FileScanPlan] = {
    val phase1 = ExprToDerbySql.print(statsPred.transform {
      case _: graft.prune.BloomMightContain =>
        org.apache.spark.sql.catalyst.expressions.Literal(true)
    })
    val candidates = conn.synchronized {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(
          s"""SELECT COUNT(*) FROM row_group_statistics rg
             |JOIN file_statistics f ON rg.file_id = f.file_id
             |WHERE $phase1""".stripMargin)
        rs.next(); val n = rs.getLong(1); rs.close(); n
      } finally st.close()
    }
    if (candidates > maxPlannerProbeRowGroups) return runPlanQuery(planSql(phase1))
    val split = PlannerBloom.split(statsPred)
    val extra =
      split.sqlLeaves.zipWithIndex.map { case (s, i) =>
        s"CASE WHEN $s THEN 1 ELSE 0 END AS leaf_$i"
      } ++ split.bloomCols.map(c => s"rg.${c}_bloom")
    val nLeaves = split.sqlLeaves.size
    runPlanQuery(planSql(phase1, extra), keepRow = { rs =>
      val verdicts = Array.tabulate(nLeaves)(i => rs.getInt(8 + i) == 1)
      val blooms = Array.tabulate(split.bloomCols.size)(j =>
        rs.getBytes(8 + nLeaves + j))
      PlannerBloom.eval(split.root, verdicts, blooms)
    })
  }

  override def minIndexedValue(colName: String): Option[Any] = conn.synchronized {
    require(indexedCols.exists(_.name == colName), s"$colName is not indexed")
    // Derby will happily MIN over VARCHAR FOR BIT DATA, but its bit-data
    // collation is not certified to match Catalyst's unsigned lexicographic
    // binary order — refuse rather than risk a wrong "exact" minimum
    if (indexedCols.exists(f => f.name == colName && f.dataType == BinaryType))
      return None
    val st = conn.createStatement()
    try {
      // the second aggregate certifies exactness: a row group with a NULL
      // min that may still hold non-null values (no stats, or null_count
      // short of row_count) means SQL MIN skipped a candidate and the
      // result could exceed the true minimum → None
      val rs = st.executeQuery(
        s"""SELECT MIN(${colName}_min),
           |  SUM(CASE WHEN ${colName}_min IS NULL
           |           AND (${colName}_null_count IS NULL
           |                OR ${colName}_null_count < row_count)
           |      THEN 1 ELSE 0 END)
           |FROM row_group_statistics""".stripMargin)
      val v =
        if (rs.next() && rs.getLong(2) == 0L) Option(rs.getObject(1))
        else None
      rs.close()
      v.filter {
        // at the catalog's max width the stored min may be a truncated
        // lower BOUND (setValue), not an actual value — uncertifiable
        case s: String      => s.length < DerbyStatsIndex.MaxStringLen
        case b: Array[Byte] => b.length < DerbyStatsIndex.MaxStringLen
        case _              => true
      }
    } catch {
      // e.g. MIN over VARCHAR FOR BIT DATA is not grammatical in Derby —
      // degrade to "unknown", same conservative contract as getFiles
      case _: java.sql.SQLException => None
    } finally st.close()
  }

  override def maxIndexedValue(colName: String): Option[Any] = conn.synchronized {
    require(indexedCols.exists(_.name == colName), s"$colName is not indexed")
    if (indexedCols.exists(f => f.name == colName && f.dataType == BinaryType))
      return None // bit-data collation not certified, same as min
    val st = conn.createStatement()
    try {
      // over-long maxima are stored NULL (setValue: a truncated max would
      // be a lower bound — unsound), so a stored max is always a verbatim
      // value; the only exactness hazard is a NULL max over a row group
      // that may still hold non-null values
      val rs = st.executeQuery(
        s"""SELECT MAX(${colName}_max),
           |  SUM(CASE WHEN ${colName}_max IS NULL
           |           AND (${colName}_null_count IS NULL
           |                OR ${colName}_null_count < row_count)
           |      THEN 1 ELSE 0 END)
           |FROM row_group_statistics""".stripMargin)
      val v =
        if (rs.next() && rs.getLong(2) == 0L) Option(rs.getObject(1))
        else None
      rs.close()
      v
    } catch {
      case _: java.sql.SQLException => None
    } finally st.close()
  }

  override def totalRowCount(): Option[Long] = conn.synchronized {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery("SELECT SUM(row_count) FROM row_group_statistics")
      // empty catalog ⇒ SUM is NULL ⇒ the relation lists zero files and a
      // scan would count zero rows — 0 is the exact answer, not unknown
      val v = if (rs.next()) Some(rs.getLong(1)) else None
      rs.close()
      v
    } catch {
      case _: java.sql.SQLException => None
    } finally st.close()
  }

  override def totalSum(colName: String): Option[(Long, Long)] = conn.synchronized {
    require(indexedCols.exists(_.name == colName), s"$colName is not indexed")
    if (!indexedCols.exists(f =>
        f.name == colName && SumShadow.supported(f.dataType))) return None
    val st = conn.createStatement()
    try {
      // certified iff no row group is missing its ledger entry or its
      // null count; Derby raises 22003 if the BIGINT SUM overflows —
      // caught below as "unknown" (fail closed, never a wrapped value)
      val rs = st.executeQuery(
        s"""SELECT SUM(${colName}_sum),
           |  SUM(CASE WHEN ${colName}_sum IS NULL THEN 1 ELSE 0 END),
           |  SUM(row_count), SUM(${colName}_null_count),
           |  SUM(CASE WHEN ${colName}_null_count IS NULL THEN 1 ELSE 0 END)
           |FROM row_group_statistics""".stripMargin)
      val v =
        if (rs.next() && rs.getLong(2) == 0L && rs.getLong(5) == 0L)
          Some((rs.getLong(1), rs.getLong(3) - rs.getLong(4)))
        else None
      rs.close()
      v
    } catch {
      case _: java.sql.SQLException => None
    } finally st.close()
  }

  override def nonNullCount(colName: String): Option[Long] = conn.synchronized {
    require(indexedCols.exists(_.name == colName), s"$colName is not indexed")
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(
        s"""SELECT SUM(row_count), SUM(${colName}_null_count),
           |  SUM(CASE WHEN ${colName}_null_count IS NULL THEN 1 ELSE 0 END)
           |FROM row_group_statistics""".stripMargin)
      // empty catalog ⇒ all three SUMs are NULL, getLong reads 0 ⇒ Some(0),
      // consistent with totalRowCount; any row group with an unknown null
      // count (getLong(3) > 0) ⇒ uncertifiable
      val v =
        if (rs.next() && rs.getLong(3) == 0L) Some(rs.getLong(1) - rs.getLong(2))
        else None
      rs.close()
      v
    } catch {
      case _: java.sql.SQLException => None
    } finally st.close()
  }

  /** Catalog-computed top-k survivors (the [[StatsIndex.topKSurvivors]]
    * fast path): the guaranteed-count threshold is discovered by PAGED
    * ordered reads of (guarantee bound, row count, null count) — usually
    * one page: row groups are walked best-first, so coverage of k is
    * typically reached within the first few — and the survivor filter
    * then runs as ONE catalog-side pruning query, shipping only surviving
    * plans to the planner. Served for numeric-encoded columns (integrals,
    * date/timestamp, decimal) directly, and for STRINGS via the
    * order-preserving hex shadow columns (Derby compares raw VARCHAR by
    * UTF-16 code unit, which diverges from Spark's code-point order above
    * U+E000 — the ASCII-only hex of the UTF-8 bytes restores byte order;
    * see [[DerbyStatsIndex.hex]]); float/double are uncertified
    * everywhere. Threshold literals are numeric or hex, so embedding them
    * in the survivor SQL is safe. */
  override def topKSurvivors(
      colName: String,
      k: Long,
      descending: Boolean,
      nullsFirst: Boolean,
      lo: Option[(Any, Boolean)] = None,
      hi: Option[(Any, Boolean)] = None): Option[Seq[FileScanPlan]] = conn.synchronized {
    require(indexedCols.exists(_.name == colName), s"$colName is not indexed")
    val colType = indexedCols.find(_.name == colName).map(_.dataType)
    val numeric = colType.exists {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType | _: DecimalType => true
      case _ => false
    }
    // strings are served through the order-preserving hex shadow columns
    // (see initialize): Derby's ordered reads over them equal Spark's
    // UTF8String (code-point) order, which the raw VARCHAR columns do not
    val isString = colType.contains(StringType)
    if ((!numeric && !isString) || k <= 0) return None
    val minCol = if (isString) s"${colName}_min_hex" else s"${colName}_min"
    val maxCol = if (isString) s"${colName}_max_hex" else s"${colName}_max"
    val guar = if (descending) minCol else maxCol
    val best = if (descending) maxCol else minCol
    val dir = if (descending) "DESC" else "ASC"
    def render(v: Any): String =
      if (isString) "'" + DerbyStatsIndex.hex(v.asInstanceOf[String]) + "'"
      else v match {
        case d: java.math.BigDecimal => d.toPlainString
        case other => other.toString // boxed integrals only (numeric gate above)
      }
    // threshold certificate restricted to groups wholly inside the window:
    // BOTH stored bounds must sit within [lo, hi] (and be known), so every
    // non-null row of the group passes the data filter
    // the windowed certificate needs BOTH stored bounds known (the
    // unfiltered one needs only the guarantee side — adding more would
    // diverge from the planner-side reference semantics)
    val inside =
      (if (lo.isDefined || hi.isDefined)
        s" AND rg.$minCol IS NOT NULL AND rg.$maxCol IS NOT NULL"
      else "") +
      lo.map { case (v, inc) =>
        s" AND rg.$minCol ${if (inc) ">=" else ">"} ${render(v)}" }
        .getOrElse("") +
      hi.map { case (v, inc) =>
        s" AND rg.$maxCol ${if (inc) "<=" else "<"} ${render(v)}" }
        .getOrElse("")
    try {
      var covered = 0L
      var threshold: Option[Any] = None
      var offset = 0
      val page = 1024
      while (threshold.isEmpty) {
        // (file_id, row_group) tiebreakers make the OFFSET walk total-ordered:
        // each page re-executes the query, and without them a page boundary
        // inside a run of equal guarantee values could double-count or skip
        // groups across executions, certifying a threshold not backed by k rows
        val st = conn.prepareStatement(
          s"""SELECT $guar, rg.row_count, rg.${colName}_null_count
             |FROM row_group_statistics rg
             |WHERE $guar IS NOT NULL AND rg.${colName}_null_count IS NOT NULL
             |  $inside
             |ORDER BY $guar $dir, rg.file_id, rg.row_group
             |OFFSET $offset ROWS FETCH NEXT $page ROWS ONLY""".stripMargin)
        var n = 0
        try {
          val rs = st.executeQuery()
          while (threshold.isEmpty && rs.next()) {
            n += 1
            covered += rs.getLong(2) - rs.getLong(3)
            if (covered >= k) threshold = Some(rs.getObject(1))
          }
          rs.close()
        } finally st.close()
        if (threshold.isEmpty) {
          if (n < page) return None // guarantees never cover k — uncertifiable
          offset += page
        }
      }
      val t = threshold.get match {
        case d: java.math.BigDecimal => d.toPlainString
        // string threshold comes back FROM the hex shadow column — already
        // hex ([0-9A-F]*), safe to embed quoted
        case s: String if isString => "'" + s + "'"
        case other => other.toString
      }
      val cmp = if (descending) ">=" else "<="
      // survivor = best value could beat the threshold (unknown bound
      // keeps), refined by the null-order contract: nulls-first keeps any
      // group that may hold a null; nulls-last prunes certified all-null
      // groups (mirrors TopKPruning exactly)
      val cond =
        if (nullsFirst)
          s"""(rg.$best $cmp $t OR rg.$best IS NULL
             | OR rg.${colName}_null_count IS NULL
             | OR rg.${colName}_null_count > 0)""".stripMargin
        else
          s"""((rg.$best $cmp $t OR rg.$best IS NULL)
             | AND (rg.${colName}_null_count IS NULL
             |      OR rg.${colName}_null_count <> rg.row_count))""".stripMargin
      Some(runPlanQuery(
        s"""SELECT f.file_name, f.file_size_bytes, f.row_group_count, rg.row_group,
           |  rg.rg_start_bytes, rg.rg_compressed_bytes, rg.row_count
           |FROM row_group_statistics rg
           |JOIN file_statistics f ON rg.file_id = f.file_id
           |WHERE $cond
           |ORDER BY f.file_name, rg.row_group""".stripMargin))
    } catch {
      case _: java.sql.SQLException => None
    }
  }

  /** Ordering-certified storage encoding of a column for catalog-side
    * ordered reads/comparisons: (min column, max column, literal
    * renderer). Numerics compare natively; strings through the hex
    * shadows; float/double/binary are uncertified → None. */
  private def colEncoding(colName: String)
      : Option[(String, String, Any => String)] = {
    val colType = indexedCols.find(_.name == colName).map(_.dataType)
    val numeric = colType.exists {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType | _: DecimalType => true
      case _ => false
    }
    val isString = colType.contains(StringType)
    if (!numeric && !isString) None
    else Some((
      if (isString) s"${colName}_min_hex" else s"${colName}_min",
      if (isString) s"${colName}_max_hex" else s"${colName}_max",
      (v: Any) =>
        if (isString) "'" + DerbyStatsIndex.hex(v.asInstanceOf[String]) + "'"
        else v match {
          case d: java.math.BigDecimal => d.toPlainString
          case other => other.toString
        }))
  }

  /** Catalog-side COMPOSITE filtered top-k: the single-disjunct face of
    * the disjunctive walk below (see
    * [[graft.prune.TopKPruning.pruneComposite]]). */
  override def topKSurvivorsComposite(
      colName: String,
      k: Long,
      descending: Boolean,
      nullsFirst: Boolean,
      lo: Option[(Any, Boolean)],
      hi: Option[(Any, Boolean)],
      others: Seq[graft.prune.TopKPruning.OtherColBounds])
      : Option[Seq[FileScanPlan]] =
    topKSurvivorsDisjunctive(colName, k, descending, nullsFirst,
      Seq(graft.prune.TopKPruning.Disjunct(lo, hi, others)))

  /** Catalog-side DISJUNCTIVE filtered top-k (the in-store face of
    * [[graft.prune.TopKPruning.pruneDisjunctive]]): the threshold walk's
    * WHERE requires, for SOME disjunct, the sort interval to hold on the
    * group's stored bounds AND every other filter column's stats to
    * certify the group ALL-PASS (zero nulls, stored bounds inside that
    * column's interval — hex-rendered for strings); the survivor query
    * mirrors pruneDisjunctive's keep logic exactly (null-order aware:
    * nulls may win only under nulls-first AND a disjunct placing no
    * bound on the sort column; certified all-null groups are dropped
    * otherwise). Returns the keep-set; the caller intersects with the
    * filter's own stats plans. One threshold walk + one survivor query —
    * O(survivors) shipped, independent of how many disjuncts or columns
    * the filter carries.
    *
    * Implemented as [[lexWalk]] at N = 1 (r11): one threshold-walk
    * implementation serves every certificate family — at a single key
    * the tuple degenerates to the plain guarantee bound, branch 2 (the
    * deeper-key remainder) and branch 3 (the FreqShadow dominant slice)
    * vanish, and the survivor tie descent bottoms out at "ties keep",
    * which is exactly pruneDisjunctive's `best >= t` keep. */
  override def topKSurvivorsDisjunctive(
      colName: String,
      k: Long,
      descending: Boolean,
      nullsFirst: Boolean,
      disjuncts: Seq[graft.prune.TopKPruning.Disjunct])
      : Option[Seq[FileScanPlan]] = conn.synchronized {
    if (disjuncts.isEmpty || !indexedCols.exists(_.name == colName)) return None
    val (minCol, maxCol, _) = colEncoding(colName).getOrElse(return None)
    val disjSql = disjunctsSql(colName, disjuncts).getOrElse(return None)
    val nullMayPass = disjuncts.exists(d => d.sortLo.isEmpty && d.sortHi.isEmpty)
    lexWalk(Seq(graft.index.SortKeySpec(colName, descending, nullsFirst)), k,
      certSql = s" AND rg.$minCol IS NOT NULL AND rg.$maxCol IS NOT NULL AND $disjSql",
      headNullsMayWin = nullsFirst && nullMayPass)
  }

  /** The per-disjunct ALL-PASS certificate as one Derby predicate over a
    * row group's stats: for SOME disjunct, the sort interval holds on
    * `colName`'s stored bounds AND every other filter column certifies
    * zero nulls with stored bounds inside its interval. A bound-free
    * disjunct certifies any group (its rows pass the OR trivially).
    * None when any referenced column is unindexed or ordering-uncertified. */
  private def disjunctsSql(
      colName: String,
      disjuncts: Seq[graft.prune.TopKPruning.Disjunct]): Option[String] = {
    val (minCol, maxCol, render) = colEncoding(colName).getOrElse(return None)
    Some(disjuncts.map { d =>
      val parts = Seq.newBuilder[String]
      d.sortLo.foreach { case (v, inc) =>
        parts += s"rg.$minCol ${if (inc) ">=" else ">"} ${render(v)}" }
      d.sortHi.foreach { case (v, inc) =>
        parts += s"rg.$maxCol ${if (inc) "<=" else "<"} ${render(v)}" }
      d.others.foreach { ob =>
        if (!indexedCols.exists(_.name == ob.col)) return None
        val (omin, omax, orender) = colEncoding(ob.col).getOrElse(return None)
        parts += s"rg.${ob.col}_null_count = 0"
        ob.lo.foreach { case (v, inc) =>
          parts += s"rg.$omin ${if (inc) ">=" else ">"} ${orender(v)}" }
        ob.hi.foreach { case (v, inc) =>
          parts += s"rg.$omax ${if (inc) "<=" else "<"} ${orender(v)}" }
      }
      val ps = parts.result()
      if (ps.isEmpty) "(1=1)" else ps.mkString("(", " AND ", ")")
    }.mkString("(", " OR ", ")"))
  }

  /** Catalog-side N-KEY lexicographic top-k (the in-store face of
    * [[graft.prune.TopKPruning.pruneLexN]]). The threshold walk emits,
    * per row group with known leading guarantee + null count, up to TWO
    * rows (a UNION ALL): a TUPLE row whose level-i value is the group's
    * own bound when levels 2..i are all consecutively certified (bound +
    * null count known — ANY such group certifies its prefix tuple,
    * constant leading key or not), NULL below the certified prefix; a
    * leading-only remainder row (the whole group when level 2 is
    * uncertified; the nulls-last deeper-key null remainder otherwise, a
    * disjoint row set that only loses its tie); and, when the
    * [[FreqShadow]] is built and the stored extreme is verbatim-exact,
    * a DOMINANT-slice row certifying the rows AT the leading best value
    * at that value itself (branch 3 — the three counts split the
    * group's non-null-leading rows disjointly). Walk order is leading-
    * best first, concrete level values before -inf at every tie (the
    * f_i flags), (file_id, row_group) tiebreakers for stable paging.
    * The survivor query mirrors pruneLexN's keep logic: strict losers
    * at a level prune, ties descend recursively (certified all-null
    * keys lose their tie under nulls-last; possible nulls win it under
    * nulls-first). Returns tuple survivors only; the caller intersects
    * with the (N-1)-prefix pruning. */
  override def topKSurvivorsLexN(
      keys: Seq[graft.index.SortKeySpec], k: Long)
      : Option[Seq[FileScanPlan]] = conn.synchronized {
    lexWalk(keys, k, certSql = "",
      headNullsMayWin = keys.headOption.exists(_.nullsFirst))
  }

  /** Catalog-side FILTERED N-key lexicographic top-k (the in-store face
    * of [[graft.prune.TopKPruning.pruneDisjunctiveLex]]): the
    * [[topKSurvivorsLexN]] tuple walk with every branch gated by the
    * disjunctive all-pass certificate (sort interval on the stored
    * bounds + every other filter column all-pass for SOME disjunct),
    * and the survivor head-null rule per that certificate (nulls may
    * win only under nulls-first AND a sort-bound-free disjunct). */
  override def topKSurvivorsDisjunctiveLexN(
      keys: Seq[graft.index.SortKeySpec],
      disjuncts: Seq[graft.prune.TopKPruning.Disjunct],
      k: Long): Option[Seq[FileScanPlan]] = conn.synchronized {
    if (disjuncts.isEmpty || keys.isEmpty) return None
    // an IMAGE head cannot compare raw-value sort bounds in image space —
    // same refusal as the planner (TopKPushdown remaps such bounds into
    // other-column all-pass entries before they reach either side)
    if (keys.head.image.isDefined &&
        disjuncts.exists(d => d.sortLo.isDefined || d.sortHi.isDefined))
      return None
    val (minC, maxC, _) = colEncoding(keys.head.col).getOrElse(return None)
    val disjSql = disjunctsSql(keys.head.col, disjuncts).getOrElse(return None)
    val nullMayPass = disjuncts.exists(d => d.sortLo.isEmpty && d.sortHi.isEmpty)
    lexWalk(keys, k,
      certSql = s" AND rg.$minC IS NOT NULL AND rg.$maxC IS NOT NULL AND $disjSql",
      headNullsMayWin = keys.head.nullsFirst && nullMayPass)
  }

  /** Shared threshold-walk core of every disjunctive/lexicographic fast
    * path (r11: including the single-key disjunctive one — at N = 1 the
    * tuple degenerates to the plain guarantee bound, branches 2/3
    * vanish, and the tie descent bottoms out at "ties keep"). `certSql`
    * is appended to every walk branch's WHERE (empty = unfiltered);
    * `headNullsMayWin` parameterizes the survivor head-null rule. */
  private def lexWalk(
      keys: Seq[graft.index.SortKeySpec], k: Long,
      certSql: String, headNullsMayWin: Boolean)
      : Option[Seq[FileScanPlan]] = {
    if (k <= 0 || keys.isEmpty ||
        keys.exists(key => !indexedCols.exists(_.name == key.col))) return None
    val n = keys.size
    val enc = keys.map(key => colEncoding(key.col).getOrElse(return None))
    // IMAGE keys (r11): the walk reads image(stat) instead of the stat —
    // each key's stored min/max expression is wrapped in the image's SQL
    // rendering. Unrenderable images, an input-type mismatch, or an image
    // over the hex shadow encoding (the arithmetic would wrap hex text)
    // fall back to the planner path, which derives the stats instead.
    val wrap: IndexedSeq[String => String] =
      keys.toIndexedSeq.zipWithIndex.map { case (key, i) =>
        key.image match {
          case None => identity[String] _
          case Some(img) =>
            if (!indexedCols.exists(f =>
                f.name == key.col && img.acceptsInput(f.dataType)) ||
                enc(i)._1.endsWith("_hex")) return None
            img.derbySql.getOrElse(return None)
        }
      }
    def guar(i: Int) = if (keys(i).desc) enc(i)._1 else enc(i)._2
    def best(i: Int) = if (keys(i).desc) enc(i)._2 else enc(i)._1
    def guarE(i: Int) = wrap(i)(s"rg.${guar(i)}")
    def bestE(i: Int) = wrap(i)(s"rg.${best(i)}")
    def dir(i: Int) = if (keys(i).desc) "DESC" else "ASC"
    def nc(i: Int) = s"rg.${keys(i).col}_null_count"
    val aNc = nc(0)
    // level i certified: bound + null count known (see pruneLexN's
    // scaladoc for why ANY such group certifies, constant leading or not;
    // an image preserves NULLs, so the raw column's nullness decides)
    def cert(i: Int) = s"(${nc(i)} IS NOT NULL AND rg.${guar(i)} IS NOT NULL)"
    def certUpTo(i: Int) = (1 to i).map(cert).mkString("(", " AND ", ")")
    // non-null-leading rows; clamped like the planner side
    val baseCnt =
      s"(CASE WHEN rg.row_count - $aNc < 0 THEN 0 ELSE rg.row_count - $aNc END)"
    // nulls-last deeper levels' null counts, summed while the prefix
    // reaches them (conservative -- joint nulls may double-subtract,
    // never over-count)
    val sTerms = (1 until n).filterNot(keys(_).nullsFirst)
      .map(i => s"(CASE WHEN ${certUpTo(i)} THEN ${nc(i)} ELSE 0 END)")
    val sExpr = if (sTerms.isEmpty) "0" else sTerms.mkString("(", " + ", ")")
    // DOMINANT-slice count from the FreqShadow (0 when unbuilt or when
    // the stored extreme is not verbatim-exact — string minima): rows at
    // the leading best value, minus the nulls-last remainder, clamped.
    // Single-key walks never use it: the planner reference algorithms
    // (prune / pruneDisjunctive) carry no frequency candidates, and
    // catalog==planner parity pins the two sides equal.
    val headField = indexedCols.find(_.name == keys(0).col)
    val headIsString = headField.exists(_.dataType == StringType)
    val freqUsable = n >= 2 &&
      headField.exists(f => FreqShadow.supported(f.dataType))
    val cntB =
      if (!freqUsable) "0"
      else {
        val fq =
          if (keys(0).desc) s"rg.${keys(0).col}_max_freq"
          else s"rg.${keys(0).col}_min_freq"
        val capped = s"(CASE WHEN $fq > $baseCnt THEN $baseCnt ELSE $fq END)"
        // the stored best extreme must be non-NULL for the frequency to
        // be usable: branch 3 (which claims these rows at that value)
        // requires it, and the planner zeroes fb when bestVal is
        // undefined — counting the slice toward NO candidate here would
        // let catalog and planner thresholds diverge (both sound, but
        // the catalog==planner parity contract pins them equal).
        // String ASC additionally needs the min-is-exact marker (r11): a
        // truncated stored min is a lower BOUND — pairing a count with it
        // would claim rows at a better value than they hold. Matches the
        // planner's per-group minExact gate exactly.
        val exactGuard =
          if (headIsString && !keys(0).desc)
            s""" OR rg.${keys(0).col}_min_exact IS NULL
               | OR rg.${keys(0).col}_min_exact = 0""".stripMargin
          else ""
        s"""(CASE WHEN $fq IS NULL OR ${bestE(0)} IS NULL$exactGuard THEN 0
           |      WHEN ($capped - $sExpr) < 0 THEN 0
           |      ELSE ($capped - $sExpr) END)""".stripMargin
      }
    val rawFull = s"($baseCnt - $sExpr - $cntB)"
    val cnt1 = s"(CASE WHEN $rawFull < 0 THEN 0 ELSE $rawFull END)"
    // branch-1 level columns: flag 0 + bound while the prefix holds;
    // branch-2: flag 1 + typed NULL at every deeper level. At N = 1
    // there are no deeper levels: every group IS its branch-1 row
    // (no level-1 certification gate), and branches 2/3 don't exist.
    val sel1 = (1 until n).map(i =>
      s"""CASE WHEN ${certUpTo(i)} THEN 0 ELSE 1 END AS f$i,
         |    CASE WHEN ${certUpTo(i)} THEN ${guarE(i)} ELSE NULL END AS s$i"""
        .stripMargin).mkString(",\n    ")
    val sel1Frag = if (n == 1) "" else s"\n    $sel1,"
    val outFrag = if (n == 1) "" else
      (1 until n).flatMap(i => Seq(s"f$i", s"s$i")).mkString("", ", ", ", ")
    val ordFrag = if (n == 1) "" else
      (1 until n).map(i => s"f$i ASC, s$i ${dir(i)}").mkString("", ", ", ", ")
    val branch1Cert = if (n == 1) "" else s" AND ${cert(1)}"
    val branch2 =
      if (n == 1) ""
      else {
        val sel2 = (1 until n).map(i =>
          s"1, CASE WHEN 1=0 THEN ${guarE(i)} ELSE NULL END")
          .mkString(",\n    ")
        val cnt2 =
          s"""(CASE WHEN ${cert(1)} THEN ($baseCnt - $cntB - $cnt1)
             |      ELSE ($baseCnt - $cntB) END)""".stripMargin
        val branch2Where = s"(NOT ${cert(1)} OR ($baseCnt - $cntB - $cnt1) > 0)"
        s"""
           |  UNION ALL
           |  SELECT ${guarE(0)},
           |    $sel2,
           |    $cnt2, rg.file_id, rg.row_group, 2
           |  FROM row_group_statistics rg
           |  WHERE ${guarE(0)} IS NOT NULL AND $aNc IS NOT NULL AND $branch2Where$certSql""".stripMargin
      }
    val branch3 =
      if (!freqUsable) ""
      else s"""
         |  UNION ALL
         |  SELECT ${bestE(0)},$sel1Frag
         |    $cntB, rg.file_id, rg.row_group, 3
         |  FROM row_group_statistics rg
         |  WHERE ${bestE(0)} IS NOT NULL AND ${guarE(0)} IS NOT NULL
         |    AND $aNc IS NOT NULL AND $cntB > 0$certSql""".stripMargin
    try {
      var covered = 0L
      val thr = new Array[Option[Any]](n)
      var found = false
      var offset = 0
      val page = 1024
      while (!found) {
        val st = conn.prepareStatement(
          s"""SELECT s0, ${outFrag}cnt, fid, rgn, bno FROM (
             |  SELECT ${guarE(0)} AS s0,$sel1Frag
             |    $cnt1 AS cnt, rg.file_id AS fid, rg.row_group AS rgn, 1 AS bno
             |  FROM row_group_statistics rg
             |  WHERE ${guarE(0)} IS NOT NULL AND $aNc IS NOT NULL$branch1Cert$certSql$branch2$branch3
             |) t
             |ORDER BY s0 ${dir(0)}, ${ordFrag}fid, rgn, bno
             |OFFSET $offset ROWS FETCH NEXT $page ROWS ONLY""".stripMargin)
        var nRows = 0
        try {
          val rs = st.executeQuery()
          while (!found && rs.next()) {
            nRows += 1
            covered += rs.getLong(2 * n)
            if (covered >= k) {
              thr(0) = Some(rs.getObject(1))
              (1 until n).foreach(i => thr(i) = Option(rs.getObject(2 * i + 1)))
              found = true
            }
          }
          rs.close()
        } finally st.close()
        if (!found) {
          if (nRows < page) return None // guarantees never cover k
          offset += page
        }
      }
      def lit(v: Any, hexCol: String): String = v match {
        case d: java.math.BigDecimal => d.toPlainString
        case s: String if hexCol.endsWith("_hex") => "'" + s + "'"
        case other => other.toString
      }
      // survivor keep, built bottom-up: strict losers prune, ties descend
      def tieExpr(i: Int): String =
        if (i >= n) "(1=1)"
        else thr(i) match {
          case None => "(1=1)" // threshold is -inf from this level down
          case Some(t) =>
            val tSql = lit(t, guar(i))
            val bi = bestE(i)
            val strictlyBetter = if (keys(i).desc) ">" else "<"
            s"""((${if (keys(i).nullsFirst) "1=1" else "1=0"} AND (${nc(i)} IS NULL OR ${nc(i)} > 0))
               | OR ((${nc(i)} IS NULL OR ${nc(i)} <> rg.row_count)
               |     AND ($bi IS NULL OR $bi $strictlyBetter $tSql
               |          OR ($bi = $tSql AND ${tieExpr(i + 1)}))))""".stripMargin
        }
      val t0Sql = lit(thr(0).get, guar(0))
      val sb0 = if (keys(0).desc) ">" else "<"
      val cond =
        s"""((${if (headNullsMayWin) "1=1" else "1=0"} AND ($aNc IS NULL OR $aNc > 0))
           | OR (($aNc IS NULL OR $aNc <> rg.row_count)
           |     AND (${bestE(0)} IS NULL
           |          OR ${bestE(0)} $sb0 $t0Sql
           |          OR (${bestE(0)} = $t0Sql AND ${tieExpr(1)}))))""".stripMargin
      Some(runPlanQuery(
        s"""SELECT f.file_name, f.file_size_bytes, f.row_group_count, rg.row_group,
           |  rg.rg_start_bytes, rg.rg_compressed_bytes, rg.row_count
           |FROM row_group_statistics rg
           |JOIN file_statistics f ON rg.file_id = f.file_id
           |WHERE $cond
           |ORDER BY f.file_name, rg.row_group""".stripMargin))
    } catch {
      case _: java.sql.SQLException => None
    }
  }

  override def rowGroupStats(colName: String): Option[Seq[RowGroupStat]] =
    rowGroupStatsChunks(colName, Seq(None))

  /** File-restricted stats fetch, pushed into the store as chunked
    * prepared `file_name IN (…)` queries (Derby walks the file_name
    * unique index, then the rg PK per file) — O(restricted files), not
    * O(catalog). The chunking bounds each statement's parameter count. */
  override def rowGroupStatsFor(
      colName: String, files: Set[String]): Option[Seq[RowGroupStat]] =
    if (files.isEmpty) Some(Nil)
    else rowGroupStatsChunks(colName,
      files.toSeq.sorted.grouped(DerbyStatsIndex.FileInChunk).map(Some(_)).toSeq)

  private def rowGroupStatsChunks(
      colName: String,
      chunks: Seq[Option[Seq[String]]]): Option[Seq[RowGroupStat]] =
    conn.synchronized {
      require(indexedCols.exists(_.name == colName), s"$colName is not indexed")
      // bit-data collation in Derby differs from unsigned-lexicographic —
      // binary stats are not certified for ordering, same as min/max scalars
      if (indexedCols.exists(f => f.name == colName && f.dataType == BinaryType))
        return None
      val withFreq = indexedCols.exists(f =>
        f.name == colName && FreqShadow.supported(f.dataType))
      val isString = indexedCols.exists(f =>
        f.name == colName && f.dataType == StringType)
      val withSum = indexedCols.exists(f =>
        f.name == colName && SumShadow.supported(f.dataType))
      def query(extra: Boolean, chunk: Option[Seq[String]]): Seq[RowGroupStat] = {
        // optional shadow columns appended in a FIXED order; their result
        // positions follow the 6 core columns
        val freqSel =
          if (extra && withFreq)
            s", rg.${colName}_min_freq, rg.${colName}_max_freq" else ""
        val exactSel =
          if (extra && isString) s", rg.${colName}_min_exact" else ""
        val sumSel =
          if (extra && withSum) s", rg.${colName}_sum" else ""
        val exactPos = 7 + (if (extra && withFreq) 2 else 0)
        val sumPos = exactPos + (if (extra && isString) 1 else 0)
        val whereSql = chunk.fold("")(c =>
          s"\nWHERE f.file_name IN (${c.map(_ => "?").mkString(", ")})")
        val ps = conn.prepareStatement(
          s"""SELECT f.file_name, rg.row_group, rg.${colName}_min,
             |  rg.${colName}_max, rg.row_count, rg.${colName}_null_count$freqSel$exactSel$sumSel
             |FROM row_group_statistics rg
             |JOIN file_statistics f ON rg.file_id = f.file_id$whereSql""".stripMargin)
        try {
          chunk.foreach(_.zipWithIndex.foreach { case (n, i) =>
            ps.setString(i + 1, n)
          })
          val rs = ps.executeQuery()
          val buf = mutable.ArrayBuffer.empty[RowGroupStat]
          while (rs.next()) {
            val mn = Option(rs.getObject(3))
            val mx = Option(rs.getObject(4))
            val rows = rs.getLong(5)
            val nulls = { val n = rs.getLong(6); if (rs.wasNull()) None else Some(n) }
            def optLong(on: Boolean, i: Int): Option[Long] =
              if (!on) None
              else { val v = rs.getLong(i); if (rs.wasNull()) None else Some(v) }
            val exact =
              if (!(extra && isString)) None
              else {
                val v = rs.getInt(exactPos); if (rs.wasNull()) None else Some(v == 1)
              }
            buf += RowGroupStat(rs.getString(1), rs.getInt(2), mn, mx, rows, nulls,
              optLong(extra && withFreq, 7), optLong(extra && withFreq, 8),
              exact, optLong(extra && withSum, sumPos))
          }
          rs.close()
          buf.toSeq
        } finally ps.close()
      }
      def queryAll(extra: Boolean): Seq[RowGroupStat] =
        chunks.flatMap(c => query(extra, c))
      try Some(queryAll(extra = true))
      catch {
        // 42X04 = column does not exist: a catalog created before the
        // freq shadow / min-exact marker and never re-initialized — read
        // without them rather than degrading outright. Any OTHER failure
        // degrades to None as before (masking a real error behind a
        // silent retry would quietly disable the dominant-slice
        // certificate).
        case e: java.sql.SQLException
            if (withFreq || isString || withSum) && e.getSQLState == "42X04" =>
          try Some(queryAll(extra = false))
          catch { case _: java.sql.SQLException => None }
        case _: java.sql.SQLException => None
      }
    }

  /** Per-file bloom maintenance: one [[BloomIndex.build]] job per bloom
    * column over JUST the given plans — the hook compaction and the
    * streaming sink use to keep probe precision on a changing file set.
    * Columns absent from `dataSchema` (schema evolution: files written
    * before the column existed) are skipped — their blooms stay NULL,
    * which probes as "might match" (sound). */
  override def rebuildBlooms(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      plans: Seq[FileScanPlan],
      dataSchema: StructType): Unit =
    if (plans.nonEmpty)
      bloomCols.toSeq.sorted
        .filter(c => dataSchema.fieldNames.contains(c))
        .foreach(c => BloomIndex.build(spark, dir, plans, dataSchema, c, dbPath))

  override def rebuildShadows(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      plans: Seq[FileScanPlan],
      dataSchema: StructType,
      freqCols: Seq[String],
      sumCols: Seq[String]): Unit =
    if (plans.nonEmpty) {
      freqCols.distinct.sorted
        .filter(c => dataSchema.fieldNames.contains(c) &&
          indexedCols.exists(f => f.name == c && FreqShadow.supported(f.dataType)))
        .foreach(c => FreqShadow.build(spark, dir, plans, dataSchema, c, dbPath))
      sumCols.distinct.sorted
        .filter(c => dataSchema.fieldNames.contains(c) &&
          indexedCols.exists(f => f.name == c && SumShadow.supported(f.dataType)))
        .foreach(c => SumShadow.build(spark, dir, plans, dataSchema, c, dbPath))
    }

  override def rebuildHll(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      plans: Seq[FileScanPlan],
      dataSchema: StructType,
      hllCols: Seq[String]): Unit =
    if (plans.nonEmpty)
      hllCols.distinct.sorted
        .filter(c => dataSchema.fieldNames.contains(c) &&
          indexedCols.exists(f => f.name == c && HllShadow.supported(f.dataType)))
        .foreach(c => HllShadow.build(spark, dir, plans, dataSchema, c, dbPath))

  override def rebuildQuantiles(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      plans: Seq[FileScanPlan],
      dataSchema: StructType,
      quantileCols: Seq[String]): Unit =
    if (plans.nonEmpty)
      quantileCols.distinct.sorted
        .filter(c => dataSchema.fieldNames.contains(c) &&
          indexedCols.exists(f => f.name == c && QuantileShadow.supported(f.dataType)))
        .foreach(c => QuantileShadow.build(spark, dir, plans, dataSchema, c, dbPath))

  override def rebuildCms(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      plans: Seq[FileScanPlan],
      dataSchema: StructType,
      cmsCols: Seq[String]): Unit =
    if (plans.nonEmpty)
      cmsCols.distinct.sorted
        .filter(c => dataSchema.fieldNames.contains(c) &&
          indexedCols.exists(f => f.name == c && CmsShadow.supported(f.dataType)))
        .foreach(c => CmsShadow.build(spark, dir, plans, dataSchema, c, dbPath))

  /** FUSED ledger maintenance (r16): validate each family's columns
    * exactly as the individual hooks do, then build every surviving
    * (family, column) in ONE [[LedgerBuild]] scan of the plans — the
    * per-batch/per-compaction maintenance path reads the new files once
    * instead of once per family. A single surviving family still goes
    * through the fused pass (same scan count as the standalone build). */
  override def rebuildLedgers(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      plans: Seq[FileScanPlan],
      dataSchema: StructType,
      freqCols: Seq[String],
      sumCols: Seq[String],
      hllCols: Seq[String],
      quantileCols: Seq[String],
      cmsCols: Seq[String],
      blooms: Boolean): Unit = {
    if (plans.isEmpty) return
    def valid(cols: Seq[String], ok: DataType => Boolean): Seq[String] =
      cols.distinct.sorted.filter(c => dataSchema.fieldNames.contains(c) &&
        indexedCols.exists(f => f.name == c && ok(f.dataType)))
    val b = if (blooms) bloomCols.toSeq.sorted
      .filter(c => dataSchema.fieldNames.contains(c)) else Nil
    LedgerBuild.buildAll(spark, dir, plans, dataSchema, dbPath,
      bloomCols = b,
      freqCols = valid(freqCols, FreqShadow.supported),
      sumCols = valid(sumCols, SumShadow.supported),
      hllCols = valid(hllCols, HllShadow.supported),
      quantileCols = valid(quantileCols, QuantileShadow.supported),
      cmsCols = valid(cmsCols, CmsShadow.supported))
  }

  override def approxFrequency(
      colName: String,
      value: Any,
      plans: Option[Seq[FileScanPlan]] = None): Option[Long] =
    conn.synchronized {
      require(indexedCols.exists(_.name == colName), s"$colName is not indexed")
      require(value != null, "NULL is not a frequency (COUNT semantics)")
      val dt = indexedCols.find(_.name == colName).get.dataType
      if (!CmsShadow.supported(dt)) return None
      // the probe hashes through Spark's OWN XxHash64 on the typed
      // literal - writer and reader share one hash code path
      val hash =
        try new org.apache.spark.sql.catalyst.expressions.XxHash64(
          Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(value, dt)), 42L)
          .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
          .asInstanceOf[Long]
        catch { case scala.util.control.NonFatal(_) => return None }
      val wanted: Option[Map[String, SortedSet[Int]]] =
        plans.map(_.map(p => p.fileName -> p.scanRowGroups).toMap)
      if (wanted.exists(_.values.forall(_.isEmpty))) return Some(0L)
      val chunks: Seq[Option[Seq[String]]] = wanted match {
        case None => Seq(None)
        case Some(w) => w.keys.toSeq.sorted
          .grouped(DerbyStatsIndex.FileInChunk).map(Some(_)).toSeq
      }
      val merged = new Array[Int](CmsShadow.Depth * CmsShadow.Width)
      var covered = 0L
      try {
        chunks.foreach { chunk =>
          val whereSql = chunk.fold("")(c =>
            s"\nWHERE f.file_name IN (${c.map(_ => "?").mkString(", ")})")
          val ps = conn.prepareStatement(
            s"""SELECT f.file_name, rg.row_group, rg.${colName}_cms
               |FROM row_group_statistics rg
               |JOIN file_statistics f ON rg.file_id = f.file_id$whereSql""".stripMargin)
          try {
            chunk.foreach(_.zipWithIndex.foreach { case (n, i) =>
              ps.setString(i + 1, n)
            })
            val rs = ps.executeQuery()
            while (rs.next()) {
              val selected = wanted.forall(
                _.get(rs.getString(1)).exists(_.contains(rs.getInt(2))))
              if (selected) {
                val bytes = rs.getBytes(3)
                // an untabled selected group can hold any count - fail
                // closed, never guess
                if (bytes == null) { rs.close(); return None }
                CmsShadow.merge(merged, CmsShadow.deserialize(bytes))
                covered += 1
              }
            }
            rs.close()
          } finally ps.close()
        }
      } catch { case _: java.sql.SQLException => return None }
      if (wanted.exists(w => covered != w.values.map(_.size.toLong).sum))
        return None
      if (covered == 0 && wanted.isEmpty) return Some(0L) // empty catalog
      Some(CmsShadow.estimate(merged, hash))
    }

  override def approxQuantiles(
      colName: String,
      qs: Seq[Double],
      plans: Option[Seq[FileScanPlan]] = None): Option[Seq[Double]] =
    conn.synchronized {
      require(indexedCols.exists(_.name == colName), s"$colName is not indexed")
      if (!indexedCols.exists(f =>
          f.name == colName && QuantileShadow.supported(f.dataType))) return None
      val wanted: Option[Map[String, SortedSet[Int]]] =
        plans.map(_.map(p => p.fileName -> p.scanRowGroups).toMap)
      // a quantile of zero rows is undefined
      if (wanted.exists(_.values.forall(_.isEmpty))) return None
      val chunks: Seq[Option[Seq[String]]] = wanted match {
        case None => Seq(None)
        case Some(w) => w.keys.toSeq.sorted
          .grouped(DerbyStatsIndex.FileInChunk).map(Some(_)).toSeq
      }
      val summaries = Seq.newBuilder[(Array[Double], Long)]
      var covered = 0L
      try {
        chunks.foreach { chunk =>
          val whereSql = chunk.fold("")(c =>
            s"\nWHERE f.file_name IN (${c.map(_ => "?").mkString(", ")})")
          val ps = conn.prepareStatement(
            s"""SELECT f.file_name, rg.row_group, rg.${colName}_qsk
               |FROM row_group_statistics rg
               |JOIN file_statistics f ON rg.file_id = f.file_id$whereSql""".stripMargin)
          try {
            chunk.foreach(_.zipWithIndex.foreach { case (n, i) =>
              ps.setString(i + 1, n)
            })
            val rs = ps.executeQuery()
            while (rs.next()) {
              val selected = wanted.forall(
                _.get(rs.getString(1)).exists(_.contains(rs.getInt(2))))
              if (selected) {
                val bytes = rs.getBytes(3)
                // an unsummarized selected group can hold values at ANY
                // rank — fail closed, never guess
                if (bytes == null) { rs.close(); return None }
                summaries += QuantileShadow.deserialize(bytes)
                covered += 1
              }
            }
            rs.close()
          } finally ps.close()
        }
      } catch { case _: java.sql.SQLException => return None }
      // coverage: every selected group contributed (same contract as
      // approxDistinct — a plan naming an uncataloged group must decline)
      if (wanted.exists(w => covered != w.values.map(_.size.toLong).sum))
        return None
      val merged = summaries.result()
      val out = qs.map(q => QuantileShadow.quantile(merged, q))
      if (out.exists(_.isEmpty)) None else Some(out.map(_.get))
    }

  override def approxDistinct(
      colName: String,
      plans: Option[Seq[FileScanPlan]] = None): Option[Long] = conn.synchronized {
    require(indexedCols.exists(_.name == colName), s"$colName is not indexed")
    if (!indexedCols.exists(f =>
        f.name == colName && HllShadow.supported(f.dataType))) return None
    // which (file, row group) pairs the estimate must cover
    val wanted: Option[Map[String, SortedSet[Int]]] =
      plans.map(_.map(p => p.fileName -> p.scanRowGroups).toMap)
    if (wanted.exists(_.values.forall(_.isEmpty))) return Some(0L)
    val chunks: Seq[Option[Seq[String]]] = wanted match {
      case None => Seq(None)
      case Some(w) => w.keys.toSeq.sorted
        .grouped(DerbyStatsIndex.FileInChunk).map(Some(_)).toSeq
    }
    val regs = new Array[Byte](HllShadow.M)
    var covered = 0L
    try {
      chunks.foreach { chunk =>
        val whereSql = chunk.fold("")(c =>
          s"\nWHERE f.file_name IN (${c.map(_ => "?").mkString(", ")})")
        val ps = conn.prepareStatement(
          s"""SELECT f.file_name, rg.row_group, rg.${colName}_hll
             |FROM row_group_statistics rg
             |JOIN file_statistics f ON rg.file_id = f.file_id$whereSql""".stripMargin)
        try {
          chunk.foreach(_.zipWithIndex.foreach { case (n, i) =>
            ps.setString(i + 1, n)
          })
          val rs = ps.executeQuery()
          while (rs.next()) {
            val selected = wanted.forall(
              _.get(rs.getString(1)).exists(_.contains(rs.getInt(2))))
            if (selected) {
              val bytes = rs.getBytes(3)
              // an unsketched selected group can hide ANY number of
              // distinct values — fail closed, never guess
              if (bytes == null) { rs.close(); return None }
              HllShadow.merge(regs, bytes)
              covered += 1
            }
          }
          rs.close()
        } finally ps.close()
      }
    } catch { case _: java.sql.SQLException => return None }
    // coverage: every selected group contributed (a plan naming a group
    // the catalog has no row for would otherwise silently undercount)
    wanted match {
      case Some(w) if covered != w.values.map(_.size.toLong).sum => None
      case _ if covered == 0 && wanted.isEmpty => Some(0L) // empty catalog
      case _ => Some(HllShadow.estimate(regs))
    }
  }

  override def catalogCounts(): Option[(Long, Long)] = conn.synchronized {
    try {
      val st = conn.createStatement()
      try {
        val rs1 = st.executeQuery("SELECT COUNT(*) FROM file_statistics")
        rs1.next(); val nf = rs1.getLong(1); rs1.close()
        val rs2 = st.executeQuery("SELECT COUNT(*) FROM row_group_statistics")
        rs2.next(); val ng = rs2.getLong(1); rs2.close()
        Some((nf, ng))
      } finally st.close()
    } catch { case _: java.sql.SQLException => None }
  }

  override def allFiles(): Seq[FileScanPlan] = runPlanQuery(
    """SELECT f.file_name, f.file_size_bytes, f.row_group_count, rg.row_group,
      |  rg.rg_start_bytes, rg.rg_compressed_bytes, rg.row_count
      |FROM row_group_statistics rg
      |JOIN file_statistics f ON rg.file_id = f.file_id
      |ORDER BY f.file_name, rg.row_group""".stripMargin)

  override def fileNames(): Option[Seq[String]] = conn.synchronized {
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(
          "SELECT file_name FROM file_statistics ORDER BY file_name")
        val b = Seq.newBuilder[String]
        while (rs.next()) b += rs.getString(1)
        rs.close()
        Some(b.result())
      } finally st.close()
    } catch { case _: java.sql.SQLException => None }
  }

  /** Name filter pushed into the catalog query via chunked IN lists —
    * transfer is O(requested files' row groups); the chunking keeps each
    * statement inside Derby's parameter-list comfort zone. */
  override def filesNamed(names: Set[String]): Seq[FileScanPlan] =
    if (names.isEmpty) Seq.empty
    else names.toSeq.sorted.grouped(400).flatMap { chunk =>
      val in = chunk.map(n => s"'${n.replace("'", "''")}'").mkString(", ")
      runPlanQuery(
        s"""SELECT f.file_name, f.file_size_bytes, f.row_group_count, rg.row_group,
           |  rg.rg_start_bytes, rg.rg_compressed_bytes, rg.row_count
           |FROM row_group_statistics rg
           |JOIN file_statistics f ON rg.file_id = f.file_id
           |WHERE f.file_name IN ($in)
           |ORDER BY f.file_name, rg.row_group""".stripMargin)
    }.toSeq

  // concurrent planning threads share one embedded connection; serialize.
  // `keepRow` filters candidate rows as they STREAM (the planner-side
  // bloom probe) — per-row state only, never a materialized byte buffer
  private def runPlanQuery(
      sql: String,
      keepRow: java.sql.ResultSet => Boolean = _ => true): Seq[FileScanPlan] =
    conn.synchronized {
    val st = conn.createStatement()
    val rs = st.executeQuery(sql)
    val acc = mutable.LinkedHashMap.empty[String,
      (Long, Int, mutable.SortedSet[Int], mutable.Map[Int, (Long, Long)],
        mutable.Map[Int, Long])]
    while (rs.next()) if (keepRow(rs)) {
      val (_, _, set, ranges, rows) = acc.getOrElseUpdate(
        rs.getString(1),
        (rs.getLong(2), rs.getInt(3), mutable.SortedSet.empty[Int],
          mutable.Map.empty[Int, (Long, Long)], mutable.Map.empty[Int, Long]))
      val rg = rs.getInt(4)
      set += rg
      ranges(rg) = (rs.getLong(5), rs.getLong(6))
      rows(rg) = rs.getLong(7)
    }
    rs.close(); st.close()
    acc.iterator.map { case (name, (size, rgCount, rgs, ranges, rows)) =>
      FileScanPlan(name, size, rgCount, SortedSet.from(rgs), ranges.toMap, rows.toMap)
    }.toSeq
  }

  override def close(): Unit = conn.close()
}

object DerbyStatsIndex {
  /** Stats strings longer than this are truncated (min) or dropped (max). */
  val MaxStringLen = 1024

  /** Row-group count past which [[DerbyStatsIndex.ingestAll]] settles the
    * load (checkpoint + optimizer statistics): big enough that per-batch
    * streaming ingest never pays the O(catalog) statistics pass, small
    * enough that any real bulk (re)index does. */
  val SettleThresholdRowGroups = 10000L

  /** Parameter-count bound per file-restricted stats query chunk
    * ([[DerbyStatsIndex.rowGroupStatsFor]]): each chunk is one prepared
    * `IN (?,…,?)` statement — 512 keeps statements well under Derby's
    * practical parameter limits while amortizing round trips. */
  val FileInChunk = 512

  /** Shut ONE embedded database down (close() only closes a connection —
    * the engine keeps the database booted for the life of the JVM, with a
    * background writer that errors if the directory is deleted under it).
    * Callers that are about to delete a temp catalog directory must call
    * this first. Derby signals a successful single-database shutdown by
    * THROWING SQLState 08006 — any SQLException here is expected and
    * swallowed (a never-booted path raises XJ004, equally fine). */
  def shutdownDatabase(dbPath: String): Unit = {
    ensureDriver()
    try {
      java.sql.DriverManager.getConnection(s"jdbc:derby:$dbPath;shutdown=true")
      ()
    } catch { case _: java.sql.SQLException => () }
  }

  // ---- fresh-catalog template (r17 optimization) ----------------------------
  // A fresh embedded catalog pays ~0.5–0.7 s of Derby DDL + system-table
  // writes per create (measured; the engine boot itself is amortized per
  // JVM). The per-run streaming gates create one catalog per run, so the
  // DDL cost lands inside every timed run. The DDL is a pure function of
  // (schema, bloomCols, plannerSideBloomProbe), so it is paid ONCE per
  // JVM into a cleanly-shut-down TEMPLATE database and every subsequent
  // fresh catalog is a file-level copy of it (~ms). This precomputes
  // SCHEMA only — the template holds zero data rows, so no result or
  // statistic is carried across runs; every catalog's content still comes
  // entirely from the run's own ingest.
  private val templates = scala.collection.mutable.HashMap.empty[String, java.nio.file.Path]

  /** Copy the per-JVM template database for `key` to `dst` (which must
    * not exist yet), creating the template first with `create` (given
    * the template's path) if this JVM has none. The template is shut down
    * before it is copied, and a shutdown hook deletes it with the JVM.
    * Shared by the stats catalog and the posting catalog. */
  private[index] def fromTemplate(key: String, dst: java.nio.file.Path)(
      create: String => Unit): Unit = {
    val tmpl = templates.synchronized {
      templates.getOrElseUpdate(key, {
        ensureDriver()
        val root = java.nio.file.Files.createTempDirectory("graft-derby-tmpl")
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)))
        val t = root.resolve("db")
        create(t.toString)
        shutdownDatabase(t.toString) // a booted source dir must not be copied live
        t
      })
    }
    copyTree(tmpl, dst)
  }

  /** A fresh, EMPTY, fully-initialized catalog at `dbPath` (equivalent to
    * `new DerbyStatsIndex(...)` + `initialize(schema)`), served from the
    * per-JVM template. `dbPath` must not exist yet. */
  def freshInitialized(dbPath: String, schema: StructType,
      bloomCols: Set[String] = Set.empty,
      plannerSideBloomProbe: Boolean = false,
      maxPlannerProbeRowGroups: Int = 16384): DerbyStatsIndex = {
    val key = "stats|" + schema.json + "|" + bloomCols.toSeq.sorted.mkString(",") +
      "|" + plannerSideBloomProbe
    fromTemplate(key, java.nio.file.Paths.get(dbPath)) { t =>
      val ix = new DerbyStatsIndex(t, schema, bloomCols, plannerSideBloomProbe)
      ix.initialize(schema)
      ix.close()
    }
    new DerbyStatsIndex(dbPath, schema, bloomCols, plannerSideBloomProbe,
      maxPlannerProbeRowGroups)
  }

  /** Recursive file copy of a cleanly-shut-down Derby database directory.
    * Lock files are skipped defensively (a clean shutdown removes them;
    * a copied stale lock would block the boot of the copy). */
  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    import java.nio.file._
    Files.walkFileTree(src, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path,
          a: attribute.BasicFileAttributes): FileVisitResult = {
        Files.createDirectories(dst.resolve(src.relativize(d)))
        FileVisitResult.CONTINUE
      }
      override def visitFile(f: Path,
          a: attribute.BasicFileAttributes): FileVisitResult = {
        if (!f.getFileName.toString.endsWith(".lck"))
          Files.copy(f, dst.resolve(src.relativize(f)),
            StandardCopyOption.REPLACE_EXISTING)
        FileVisitResult.CONTINUE
      }
    })
    ()
  }

  /** Width of the string min/max hex shadow columns: up to 3 UTF-8 bytes
    * per UTF-16 code unit of a MaxStringLen-truncated value (surrogate
    * pairs average 2 bytes/unit), ×2 hex chars per byte, rounded up. */
  val MaxHexLen = 8192

  /** Uppercase hex of a string's UTF-8 bytes — an ASCII-only,
    * order-preserving encoding: byte-wise comparison of the hex equals
    * UTF-8 byte (= Unicode code point) comparison of the original, and
    * hex digits sort identically under Derby's UTF-16-code-unit VARCHAR
    * collation. Prefixes stay sound: Derby pads the shorter operand with
    * spaces (0x20), which sort below every hex digit, so a prefix orders
    * before its extensions — exactly byte-lexicographic order. */
  private[graft] def hex(s: String): String =
    hex(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private[graft] def hex(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(bytes.length * 2)
    bytes.foreach { b =>
      sb.append("0123456789ABCDEF".charAt((b >> 4) & 0xF))
      sb.append("0123456789ABCDEF".charAt(b & 0xF))
    }
    sb.toString
  }

  @volatile private var driverLoaded = false
  private[index] def ensureDriver(): Unit = if (!driverLoaded) synchronized {
    if (!driverLoaded) {
      // keep Derby's scribbles (derby.log, databases) inside the repo
      if (System.getProperty("derby.system.home") == null)
        System.setProperty("derby.system.home", "target/tmp/derby")
      new java.io.File(System.getProperty("derby.system.home")).mkdirs()
      Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
      driverLoaded = true
    }
  }

  /** Per-file transactional upsert against an arbitrary catalog
    * connection — shared by the driver-side `addFile` and executor-side
    * `ingestAll` partitions. Derby lacks ON CONFLICT/RETURNING:
    * select-then-update-or-insert inside one transaction has the same
    * semantics (`index.rs:242-329`). */
  /** Concurrent upserts (many partitions ingesting into one catalog) can
    * deadlock or time out on Derby's lock manager — the select-then-insert
    * under the UNIQUE(file_name) index is the classic victim. The
    * transaction is rolled back in full and the upsert is idempotent, so
    * a bounded exponential-backoff retry is exactly right (the same
    * contract a remote catalog's serialization failures need). */
  private[index] def ingestFile(
      conn: Connection, indexedCols: Seq[StructField], stats: FileStats): Unit = {
    var attempt = 0
    while (true) {
      try { ingestFileOnce(conn, indexedCols, stats); return }
      catch {
        case e: java.sql.SQLTransactionRollbackException if attempt < 5 =>
          attempt += 1
          Thread.sleep((50L << attempt) + scala.util.Random.nextInt(50))
      }
    }
  }

  private def ingestFileOnce(
      conn: Connection, indexedCols: Seq[StructField], stats: FileStats): Unit = {
    conn.setAutoCommit(false)
    try {
      val sel = conn.prepareStatement(
        "SELECT file_id FROM file_statistics WHERE file_name = ?")
      sel.setString(1, stats.fileName)
      val rs = sel.executeQuery()
      val fileId: Int =
        if (rs.next()) {
          val id = rs.getInt(1)
          val up = conn.prepareStatement(
            """UPDATE file_statistics SET file_size_bytes = ?, row_group_count = ?,
              |row_count = ? WHERE file_id = ?""".stripMargin)
          up.setLong(1, stats.fileSizeBytes)
          up.setInt(2, stats.rowGroups.size)
          up.setLong(3, stats.rowCount)
          up.setInt(4, id)
          up.executeUpdate(); up.close()
          // drop stale row-group stats for idempotent re-index
          val del = conn.prepareStatement(
            "DELETE FROM row_group_statistics WHERE file_id = ?")
          del.setInt(1, id); del.executeUpdate(); del.close()
          id
        } else {
          val ins = conn.prepareStatement(
            """INSERT INTO file_statistics
              |(file_name, file_size_bytes, row_group_count, row_count)
              |VALUES (?, ?, ?, ?)""".stripMargin,
            java.sql.Statement.RETURN_GENERATED_KEYS)
          ins.setString(1, stats.fileName)
          ins.setLong(2, stats.fileSizeBytes)
          ins.setInt(3, stats.rowGroups.size)
          ins.setLong(4, stats.rowCount)
          ins.executeUpdate()
          val keys = ins.getGeneratedKeys
          keys.next()
          val id = keys.getInt(1)
          ins.close()
          id
        }
      rs.close(); sel.close()

      val cols = Seq("file_id", "row_group", "row_count",
        "rg_start_bytes", "rg_compressed_bytes") ++
        indexedCols.flatMap(f =>
          Seq(s"${f.name}_null_count", s"${f.name}_min", s"${f.name}_max") ++
            (if (f.dataType == StringType)
               Seq(s"${f.name}_min_hex", s"${f.name}_max_hex",
                 s"${f.name}_min_exact") else Nil))
      val ins = conn.prepareStatement(
        s"""INSERT INTO row_group_statistics (${cols.mkString(", ")})
           |VALUES (${cols.map(_ => "?").mkString(", ")})""".stripMargin)
      stats.rowGroups.foreach { rg =>
        ins.setInt(1, fileId)
        ins.setInt(2, rg.rowGroup)
        ins.setLong(3, rg.rowCount)
        ins.setLong(4, rg.startBytes)
        ins.setLong(5, rg.compressedBytes)
        var i = 6
        indexedCols.foreach { f =>
          val cs = rg.columns.get(f.name)
          setNullable(ins, i, cs.flatMap(_.nullCount).map(java.lang.Long.valueOf), java.sql.Types.BIGINT)
          setValue(ins, i + 1, cs.flatMap(_.min), f.dataType)
          setValue(ins, i + 2, cs.flatMap(_.max), f.dataType, isMax = true)
          i += 3
          if (f.dataType == StringType) {
            // hex shadows of EXACTLY what the VARCHAR columns store (same
            // truncation for min, same drop-to-NULL for over-long max), so
            // ordered reads over the shadow see the same value set
            val mn = cs.flatMap(_.min).collect { case s: String =>
              if (s.length <= MaxStringLen) s else DerbyStatsIndex.truncMin(s) }
            val mx = cs.flatMap(_.max).collect {
              case s: String if s.length <= MaxStringLen => s }
            setNullable(ins, i, mn.map(hex), java.sql.Types.VARCHAR)
            setNullable(ins, i + 1, mx.map(hex), java.sql.Types.VARCHAR)
            // min-is-exact marker: recorded at the ONLY point that knows
            // whether truncation happened (NULL when no min was stored).
            // "Exact" certifies GRAFT's own MaxStringLen handling; that
            // the footer min itself is verbatim is the documented ingest
            // precondition (see ColumnStats' scaladoc) — a
            // stats-truncating writer must not feed this catalog
            val exact = cs.flatMap(_.min).collect { case s: String =>
              java.lang.Integer.valueOf(if (s.length <= MaxStringLen) 1 else 0) }
            setNullable(ins, i + 2, exact, java.sql.Types.SMALLINT)
            i += 3
          }
        }
        ins.addBatch()
      }
      ins.executeBatch(); ins.close()
      conn.commit()
    } catch {
      case t: Throwable => conn.rollback(); throw t
    } finally conn.setAutoCommit(true)
  }

  private def setNullable(ps: PreparedStatement, i: Int, v: Option[AnyRef], sqlType: Int): Unit =
    v match {
      case Some(x) => ps.setObject(i, x)
      case None    => ps.setNull(i, sqlType)
    }

  private def sqlTypeOf(dt: DataType): Int = dt match {
    case ByteType | ShortType => java.sql.Types.SMALLINT
    case IntegerType | DateType => java.sql.Types.INTEGER
    case LongType | TimestampType | TimestampNTZType => java.sql.Types.BIGINT
    case FloatType  => java.sql.Types.REAL
    case DoubleType => java.sql.Types.DOUBLE
    case StringType => java.sql.Types.VARCHAR
    case BinaryType => java.sql.Types.VARBINARY
    case _: DecimalType => java.sql.Types.DECIMAL
    case _          => java.sql.Types.OTHER
  }

  /** MaxStringLen truncation for min values that never splits a surrogate
    * pair: a trailing unpaired high surrogate is dropped too, so the
    * stored VARCHAR and its hex shadow are byte images of the SAME
    * well-formed string (a split pair would hex-encode via getBytes as
    * '?' — sound as a bound, but a different value than the VARCHAR
    * holds, breaking catalog==planner plan-set equivalence). Dropping a
    * code unit only shortens the prefix, so it stays a lower bound. */
  private[graft] def truncMin(s: String): String = {
    val t = s.take(MaxStringLen)
    if (t.nonEmpty && Character.isHighSurrogate(t.charAt(t.length - 1)))
      t.substring(0, t.length - 1)
    else t
  }

  /** Long strings: store min truncated (still a lower bound => sound) and
    * max as NULL (unknown => "might match" => sound). */
  private def setValue(ps: PreparedStatement, i: Int, v: Option[Any], dt: DataType,
      isMax: Boolean = false): Unit = (v, dt) match {
    case (None, _) => ps.setNull(i, sqlTypeOf(dt))
    case (Some(s: String), StringType) =>
      if (s.length <= MaxStringLen) ps.setString(i, s)
      else if (isMax) ps.setNull(i, java.sql.Types.VARCHAR)
      else ps.setString(i, truncMin(s))
    case (Some(b: Array[Byte]), BinaryType) =>
      if (b.length <= MaxStringLen) ps.setBytes(i, b)
      else if (isMax) ps.setNull(i, java.sql.Types.VARBINARY)
      else ps.setBytes(i, b.take(MaxStringLen))
    case (Some(x), _) => ps.setObject(i, x)
  }
}
