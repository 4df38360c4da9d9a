package graft.index

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.sql.PreparedStatement

/** VALUE-FREQUENCY shadow build — the optional data-scan ingest step the
  * lexicographic top-k certificate uses to handle DOMINANT-value groups
  * (SURVEY §8.8 limit (b) after round 10's generalization): per row
  * group, the count of rows equal to the column's real minimum and
  * maximum, attached as `{col}_min_freq`/`{col}_max_freq` catalog
  * columns. A near-constant group (leading min ≠ max, most rows at the
  * best value — the shape a clustered layout's band-boundary groups
  * take) can then certify its dominant slice AT the extreme instead of
  * the whole group at its weaker guarantee bound.
  *
  * Footer stats cannot know frequencies, so [[LedgerBuild]] fills them
  * from a data scan, like blooms. Re-indexing a file deletes its
  * row-group rows, so stale frequencies cannot survive a data change;
  * rebuild after re-index like blooms.
  *
  * Supported types are the ones whose STORED extremes are verbatim-exact
  * so a frequency can be soundly paired with them: integrals (and
  * date/timestamp, stored as their integer encodings) always; strings on
  * both sides here, with the PLANNER pairing a string frequency with the
  * max side unconditionally (over-long maxima are dropped to NULL at
  * ingest, so any stored max is verbatim) and with the min side per
  * group, exactly when the r11 min-is-exact marker certifies the stored
  * min untruncated (a truncated lower bound paired with a frequency
  * would claim rows at a better value than they hold). Float/double are
  * excluded like everywhere else in the ordering-certified family (NaN
  * comparator hazards).
  */
object FreqShadow extends LedgerFamily {

  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | StringType => true
    case _ => false
  }

  /** Unicode-code-point order for strings (the order the catalog's hex
    * shadows and Spark's UTF8String sort agree on); integral encodings
    * compare as long. The scan returns Catalyst EXTERNAL values, so
    * date/timestamp arrive as java.sql/java.time objects — compare via
    * their Catalyst integer encodings. */
  private[index] def compareValues(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) =>
      var i = 0
      var j = 0
      while (i < x.length && j < y.length) {
        val cx = x.codePointAt(i)
        val cy = y.codePointAt(j)
        if (cx != cy) return Integer.compare(cx, cy)
        i += Character.charCount(cx)
        j += Character.charCount(cy)
      }
      Integer.compare(x.length - i, y.length - j)
    case _ => java.lang.Long.compare(encode(a), encode(b))
  }

  private def encode(v: Any): Long = v match {
    case n: java.lang.Number => n.longValue
    case d: java.sql.Date => org.apache.spark.sql.catalyst.util.DateTimeUtils
      .fromJavaDate(d).toLong
    case d: java.time.LocalDate => d.toEpochDay
    case t: java.sql.Timestamp => org.apache.spark.sql.catalyst.util.DateTimeUtils
      .fromJavaTimestamp(t)
    case t: java.time.Instant => org.apache.spark.sql.catalyst.util.DateTimeUtils
      .instantToMicros(t)
    case t: java.time.LocalDateTime => org.apache.spark.sql.catalyst.util
      .DateTimeUtils.localDateTimeToMicros(t)
    case other =>
      throw new IllegalArgumentException(s"unsupported freq value $other")
  }

  def columns(c: String): Seq[(String, String)] =
    Seq(s"${c}_min_freq" -> "BIGINT", s"${c}_max_freq" -> "BIGINT")

  def derive(c: String, dt: DataType): Column = col(c)

  /** Running extremes and two counters — O(1) state, where a value
    * histogram would be O(distinct). All-null groups leave the shadow
    * NULL (no certificate). */
  def accumulator(dt: DataType, rowCount: Long): LedgerAcc = new LedgerAcc {
    private var mn: Any = null
    private var mx: Any = null
    private var cmn = 0L
    private var cmx = 0L
    def add(r: Row, slot: Int): Unit = {
      val v = r.get(slot)
      if (mn == null) { mn = v; mx = v; cmn = 1L; cmx = 1L }
      else {
        val cLo = compareValues(v, mn)
        if (cLo < 0) { mn = v; cmn = 1L }
        else if (cLo == 0) cmn += 1L
        // not an else-branch of the min test: a constant group's value
        // ties BOTH extremes and must count in both
        val cHi = compareValues(v, mx)
        if (cHi > 0) { mx = v; cmx = 1L }
        else if (cHi == 0) cmx += 1L
      }
    }
    def bind(ps: PreparedStatement): Boolean = mn != null && {
      ps.setLong(1, cmn)
      ps.setLong(2, cmx)
      true
    }
  }
}
