package graft.index

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}
import java.sql.{Connection, DriverManager, ResultSet, SQLException}
import scala.collection.immutable.SortedSet
import scala.collection.mutable

/** Storage of the row-level posting index ([[RowLevelIndex]]): an embedded
  * Derby database AT the index directory, the same JDBC seam the stats
  * catalog crosses ([[DerbyStatsIndex]]), so every posting question is one
  * prepared catalog query — no Spark job, no file listing, no footer read.
  *
  * Tables:
  *   postings(pkey, file_name, row_group[, row_num]) — one row per
  *     (key, row group) pair, or per row for a row-number index; B-tree
  *     `postings_key` on pkey, created after the bulk load. No uniqueness:
  *     a replayed append inserts its postings again and every read dedupes.
  *   covered(file_name PK) — the data files the postings were built over;
  *     a live file missing here has no postings, so routing degrades.
  *   posting_meta(key_type, row_numbers, truncated) — the key's Spark
  *     type, the shape, and whether any stored string key was truncated.
  *
  * `CompleteMarker` is written into the directory last, after a build has
  * loaded, indexed and shut the database down; a directory without it (a
  * crashed build, a store of an earlier format, or a Parquet posting
  * table) is never read.
  *
  * Key storage: integral, date, timestamp, decimal (precision ≤ 31) and
  * string keys. A string is stored as [[DerbyStatsIndex.hex]] of its UTF-8
  * bytes — ASCII with no spaces, so Derby's UTF-16 collation and space
  * padding order it exactly as Spark orders strings (by bytes), and both
  * equality and ranges read the key B-tree. Strings longer than
  * [[DerbyStatsIndex.MaxStringLen]] UTF-8 bytes keep only that many bytes,
  * for storage and lookup alike: a byte prefix is monotone in byte order,
  * so a lookup may also match other keys sharing the prefix, which only
  * over-scans, and never misses one.
  */
private[index] object PostingCatalog {

  /** Its name carries the store's format version, so a store an earlier
    * format left behind reads as incomplete and is rebuilt, never read. */
  val CompleteMarker = "_POSTINGS_COMPLETE_V2"

  /** Keys bound per IN-list statement. Lists are padded to a power of two
    * so a handful of statement texts cover every list length, and Derby's
    * statement cache compiles each once. */
  private val KeysPerQuery = 512

  /** Postings per insert transaction: well below Derby's default lock
    * escalation threshold (5000), so concurrent loaders keep row locks. */
  private val InsertBatch = 1000

  def localDir(indexDir: String): Path = {
    val uri = new org.apache.hadoop.fs.Path(indexDir).toUri
    require(uri.getScheme == null || uri.getScheme == "file",
      s"the posting catalog is an embedded database and needs a local directory, got $indexDir")
    Paths.get(uri.getPath).toAbsolutePath
  }

  def url(indexDir: String): String = s"jdbc:derby:${localDir(indexDir)}"

  def isComplete(indexDir: String): Boolean =
    Files.exists(localDir(indexDir).resolve(CompleteMarker))

  /** Derby column type for a key of Spark type `dt`, or a refusal naming
    * the column — floating keys (NaN, -0.0) and binary keys have no
    * Derby representation with Spark's equality. */
  def keyColumnType(keyCol: String, dt: DataType): String = dt match {
    case ByteType | ShortType => "SMALLINT"
    case IntegerType | DateType => "INTEGER"
    case LongType | TimestampType | TimestampNTZType => "BIGINT"
    case StringType => s"VARCHAR(${2 * DerbyStatsIndex.MaxStringLen})"
    case d: DecimalType if d.precision <= 31 => s"DECIMAL(31, ${d.scale})"
    case other => throw new IllegalArgumentException(
      s"row-level index on '$keyCol': key type ${other.catalogString} cannot be " +
        "stored in the posting catalog (supported: integral, date, timestamp, " +
        "decimal up to precision 31, string)")
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** True when `v` is a string the catalog stores truncated. */
  def truncated(v: Any): Boolean = v match {
    case s: String => utf8(s).length > DerbyStatsIndex.MaxStringLen
    case _ => false
  }

  /** A key value as the catalog stores it (see the class doc). */
  def toCatalog(v: Any): AnyRef = v match {
    case s: String =>
      val b = utf8(s)
      DerbyStatsIndex.hex(
        if (b.length <= DerbyStatsIndex.MaxStringLen) b else b.take(DerbyStatsIndex.MaxStringLen))
    case d: java.sql.Date => Int.box(DateTimeUtils.fromJavaDate(d))
    case d: java.time.LocalDate => Int.box(d.toEpochDay.toInt)
    case t: java.sql.Timestamp => Long.box(DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant => Long.box(DateTimeUtils.instantToMicros(i))
    case t: java.time.LocalDateTime => Long.box(DateTimeUtils.localDateTimeToMicros(t))
    case d: scala.math.BigDecimal => d.bigDecimal
    case d: Decimal => d.toJavaBigDecimal
    case other => other.asInstanceOf[AnyRef]
  }

  // ---- lifecycle -------------------------------------------------------------

  /** A fresh, empty store at `indexDir`, replacing whatever was there. */
  def create(indexDir: String, keyCol: String, keyType: DataType, rowNumbers: Boolean): Unit = {
    val colType = keyColumnType(keyCol, keyType)
    val dir = localDir(indexDir)
    Files.deleteIfExists(dir.resolve(CompleteMarker))
    DerbyStatsIndex.shutdownDatabase(dir.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    DerbyStatsIndex.fromTemplate(s"postings|${keyType.catalogString}|$rowNumbers", dir) { t =>
      val c = DriverManager.getConnection(s"jdbc:derby:$t;create=true")
      try {
        val st = c.createStatement()
        st.execute(
          s"""CREATE TABLE postings (pkey $colType NOT NULL,
             |  file_name VARCHAR(1024) NOT NULL, row_group INTEGER NOT NULL
             |  ${if (rowNumbers) ", row_num BIGINT NOT NULL" else ""})""".stripMargin)
        st.execute("CREATE TABLE covered (file_name VARCHAR(1024) NOT NULL PRIMARY KEY)")
        st.execute("CREATE TABLE posting_meta (key_type VARCHAR(256) NOT NULL, " +
          "row_numbers SMALLINT NOT NULL, truncated SMALLINT NOT NULL)")
        st.close()
        val ins = c.prepareStatement("INSERT INTO posting_meta VALUES (?, ?, 0)")
        ins.setString(1, keyType.catalogString)
        ins.setInt(2, if (rowNumbers) 1 else 0)
        ins.executeUpdate(); ins.close()
      } finally c.close()
    }
  }

  /** Finish a build: index the loaded keys, record coverage, shut the
    * database down cleanly, then write the completion marker. */
  def seal(indexDir: String, fileNames: Seq[String]): Unit = {
    withConnection(indexDir) { c =>
      val st = c.createStatement()
      try st.execute("CREATE INDEX postings_key ON postings(pkey)") finally st.close()
      cover(c, fileNames)
    }
    DerbyStatsIndex.shutdownDatabase(localDir(indexDir).toString)
    Files.createFile(localDir(indexDir).resolve(CompleteMarker))
  }

  /** Add `fileNames` to the covered set (idempotent). */
  def cover(indexDir: String, fileNames: Seq[String]): Unit =
    withConnection(indexDir)(cover(_, fileNames))

  private def cover(c: Connection, fileNames: Seq[String]): Unit = {
    c.setAutoCommit(false)
    try {
      val del = c.prepareStatement("DELETE FROM covered WHERE file_name = ?")
      val ins = c.prepareStatement("INSERT INTO covered (file_name) VALUES (?)")
      fileNames.distinct.foreach { n =>
        del.setString(1, n); del.addBatch()
        ins.setString(1, n); ins.addBatch()
      }
      del.executeBatch(); ins.executeBatch()
      del.close(); ins.close()
      c.commit()
    } catch { case t: Throwable => c.rollback(); throw t }
    finally c.setAutoCommit(true)
  }

  /** Insert one partition of postings — rows of (key, file_name,
    * row_group[, row_number]) — over the partition's own connection. Null
    * keys are skipped, since they never match, and so is a row equal to
    * the one before it (the build sorts each row group's keys, so this
    * keeps distinct postings). Each batch commits on its own and is
    * retried whole when Derby picks it as a deadlock or lock-timeout
    * victim. The first batch holding a truncated key also sets the
    * catalog's `truncated` flag, in the same transaction. */
  def insert(url: String, rowNumbers: Boolean, rows: Iterator[Row]): Unit = {
    DerbyStatsIndex.ensureDriver()
    val c = DriverManager.getConnection(url)
    try {
      c.setAutoCommit(false)
      val ps = c.prepareStatement(
        if (rowNumbers) "INSERT INTO postings (pkey, file_name, row_group, row_num) VALUES (?, ?, ?, ?)"
        else "INSERT INTO postings (pkey, file_name, row_group) VALUES (?, ?, ?)")
      val mark = c.prepareStatement("UPDATE posting_meta SET truncated = 1")
      var marked = false
      var prev: Row = null
      val fresh = rows.filter { r =>
        val keep = !r.isNullAt(0) && r != prev
        prev = r
        keep
      }
      try fresh.grouped(InsertBatch).foreach { batch =>
        var attempt = 0
        var done = false
        while (!done) {
          try {
            batch.foreach { r =>
              ps.setObject(1, toCatalog(r.get(0)))
              ps.setString(2, r.getString(1))
              ps.setInt(3, r.getInt(2))
              if (rowNumbers) ps.setLong(4, r.getLong(3))
              ps.addBatch()
            }
            val marks = !marked && batch.exists(r => truncated(r.get(0)))
            if (marks) mark.executeUpdate()
            ps.executeBatch()
            c.commit()
            marked ||= marks
            done = true
          } catch {
            case e: SQLException if attempt < 5 &&
                Option(e.getSQLState).exists(_.startsWith("40")) =>
              c.rollback(); ps.clearBatch()
              attempt += 1
              Thread.sleep((50L << attempt) + scala.util.Random.nextInt(50))
            case t: Throwable => c.rollback(); throw t
          }
        }
      } finally { ps.close(); mark.close() }
    } finally c.close()
  }

  // ---- reads -----------------------------------------------------------------

  def withConnection[T](indexDir: String)(f: Connection => T): T = {
    DerbyStatsIndex.ensureDriver()
    val c = DriverManager.getConnection(url(indexDir))
    try f(c) finally c.close()
  }

  def covered(c: Connection): Set[String] = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery("SELECT file_name FROM covered")
      val out = Set.newBuilder[String]
      while (rs.next()) out += rs.getString(1)
      rs.close()
      out.result()
    } finally st.close()
  }

  /** The store's key type name, whether it carries row numbers, and
    * whether any stored key was truncated. */
  final case class Meta(keyType: String, rowNumbers: Boolean, truncated: Boolean)

  def meta(c: Connection): Meta = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery("SELECT key_type, row_numbers, truncated FROM posting_meta")
      try { rs.next(); Meta(rs.getString(1), rs.getInt(2) == 1, rs.getInt(3) == 1) }
      finally rs.close()
    } finally st.close()
  }

  /** Runs `sql` with `binds`, feeding each result row to `f` until it
    * returns false; false if it stopped. */
  private def stream(c: Connection, sql: String, binds: Seq[AnyRef])(
      f: ResultSet => Boolean): Boolean = {
    val ps = c.prepareStatement(sql)
    try {
      binds.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }
      val rs = ps.executeQuery()
      try {
        var go = true
        while (go && rs.next()) go = f(rs)
        go
      } finally rs.close()
    } finally ps.close()
  }

  /** Runs `select` + `pkey IN (?, …)` over the non-null `keys` in padded
    * chunks, feeding each result row to `f` until it returns false; false
    * if it stopped. */
  def forKeys(c: Connection, select: String, keys: Seq[Any])(f: ResultSet => Boolean): Boolean =
    keys.filter(_ != null).map(toCatalog).distinct.grouped(KeysPerQuery).forall { chunk =>
      val width = Integer.highestOneBit(chunk.size) match {
        case w if w == chunk.size => w
        case w => w * 2
      }
      stream(c, s"$select WHERE pkey IN (${Seq.fill(width)("?").mkString(", ")})",
        Seq.tabulate(width)(i => chunk(math.min(i, chunk.size - 1))))(f)
    }

  /** Runs a bounded range read of (file_name, row_group), like [[forKeys]].
    * An exclusive string bound of MaxStringLen bytes or more reads
    * inclusive: a longer key can share its stored prefix. */
  def range(c: Connection, lower: Any, lowerInclusive: Boolean,
      upper: Any, upperInclusive: Boolean)(f: ResultSet => Boolean): Boolean = {
    def inclusive(v: Any, inc: Boolean) = inc || (v match {
      case s: String => utf8(s).length >= DerbyStatsIndex.MaxStringLen
      case _ => false
    })
    stream(c,
      s"SELECT file_name, row_group FROM postings " +
        s"WHERE pkey ${if (inclusive(lower, lowerInclusive)) ">=" else ">"} ? " +
        s"AND pkey ${if (inclusive(upper, upperInclusive)) "<=" else "<"} ?",
      Seq(toCatalog(lower), toCatalog(upper)))(f)
  }

  /** The distinct (file, row group) pairs among the rows `run` feeds, or
    * None (and `run` stops) once more than `max` appear. */
  def rowGroups(max: Int)(run: (ResultSet => Boolean) => Boolean)
      : Option[Map[String, SortedSet[Int]]] = {
    val seen = mutable.HashSet.empty[(String, Int)]
    val complete = run { rs => seen += ((rs.getString(1), rs.getInt(2))); seen.size <= max }
    if (!complete) None
    else Some(seen.groupBy(_._1).view.mapValues(_.map(_._2).to(SortedSet)).toMap)
  }

  /** Data files holding any of `keys` — one partition's share of a
    * distributed key-set lookup, over its own connection. */
  def filesFor(url: String, keys: Iterator[Any]): Iterator[String] = {
    DerbyStatsIndex.ensureDriver()
    val c = DriverManager.getConnection(url)
    val out = mutable.HashSet.empty[String]
    try keys.grouped(KeysPerQuery).foreach { chunk =>
      forKeys(c, "SELECT DISTINCT file_name FROM postings", chunk.toSeq) { rs =>
        out += rs.getString(1); true
      }
    } finally c.close()
    out.iterator
  }

  def distinctKeys(c: Connection): Long = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery("SELECT COUNT(DISTINCT pkey) FROM postings")
      try { rs.next(); rs.getLong(1) } finally rs.close()
    } finally st.close()
  }
}
