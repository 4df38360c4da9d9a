package graft.index

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.sql.PreparedStatement

/** Per-row-group SUM shadow build (r11) — the data-scan ingest step that
  * lets catalog-answered GROUP BY ([[graft.plans.StatsAggPushdown]])
  * serve `SUM(x)` aggregates: per row group, the EXACT sum of `sumCol`'s
  * non-null values, attached as a `{col}_sum` catalog column. On a
  * value-aligned layout the per-group answer is then the sum of its row
  * groups' sums — one O(index) fetch, zero data scanned.
  *
  * Footer stats carry no sums, so [[LedgerBuild]] fills them from a data
  * scan with O(1) state per task. Re-indexing a file deletes its
  * row-group rows, so stale sums cannot survive a data change; rebuild
  * after re-index like blooms.
  *
  * Supported types are the integrals whose exact sum fits the catalog's
  * BIGINT ledger; a row group whose sum overflows Long stores NULL
  * (unknown ⇒ the rewrite declines — fail closed, never a wrapped
  * value). All-null groups store 0 — the additive identity; SUM's
  * NULL-on-empty-group semantics are decided from the null counts the
  * catalog already holds. Float/double are excluded: their sum is
  * order-dependent, so a stored sum could differ from what a scan
  * computes.
  */
object SumShadow extends LedgerFamily {

  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    // r13: DECIMAL sums are exact and order-independent; with precision
    // <= 18 the UNSCALED value fits a Long, so the BIGINT ledger stores
    // the unscaled sum at the column's (fixed) scale. Wider decimals
    // decline to the scan — a ledger that cannot hold the row-group sum
    // exactly must not exist at all.
    case d: DecimalType => d.precision <= 18
    case _ => false
  }

  def columns(c: String): Seq[(String, String)] = Seq(s"${c}_sum" -> "BIGINT")

  /** Integrals widen to Long; decimals stay decimal and ride the same
    * BIGINT ledger as their UNSCALED sum (the scale is a constant of the
    * column type, so sum-of-unscaled at that scale IS the exact sum). */
  def derive(c: String, dt: DataType): Column = dt match {
    case _: DecimalType => col(c)
    case _ => col(c).cast(LongType)
  }

  /** An exact Long sum; overflow stores NULL. */
  def accumulator(dt: DataType, rowCount: Long): LedgerAcc = new LedgerAcc {
    private val scale = dt match {
      case d: DecimalType => Some(d.scale)
      case _ => None
    }
    private var sum = 0L
    private var overflow = false
    def add(r: Row, slot: Int): Unit =
      if (!overflow)
        try {
          val v = scale match {
            // setScale pins the ledger to the COLUMN's scale even if the
            // runtime value arrives rescaled; any inexact adjustment
            // throws and fails the ledger closed
            case Some(s) => r.getDecimal(slot).setScale(s).unscaledValue().longValueExact()
            case None => r.getLong(slot)
          }
          sum = Math.addExact(sum, v)
        } catch { case _: ArithmeticException => overflow = true }
    def bind(ps: PreparedStatement): Boolean = {
      if (overflow) ps.setNull(1, java.sql.Types.BIGINT) else ps.setLong(1, sum)
      true
    }
  }
}
