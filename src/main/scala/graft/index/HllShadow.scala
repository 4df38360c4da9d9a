package graft.index

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{col, when, xxhash64}
import org.apache.spark.sql.types._

import java.sql.PreparedStatement

/** Per-row-group HYPERLOGLOG ledger (r15) — the distinct-count member of
  * the optional shadow family ([[BloomIndex]] answers "is THIS value
  * here?", [[FreqShadow]] "how many rows at the extreme?", [[SumShadow]]
  * "what do the values add to?"; this one answers "how many DISTINCT
  * values?"). One dense HLL register array per (row group, column),
  * attached as a `{col}_hll` binary catalog column by [[LedgerBuild]]
  * with O(m) state per task.
  *
  * Why per ROW GROUP and not one table sketch: registers merge by
  * byte-wise max (union semantics, associative/commutative/idempotent),
  * so the per-group grain composes with everything the catalog already
  * does — the NDV of ANY row-group subset (a pruned time slice, one
  * file, the whole table) is one merge over the selected rows' sketches,
  * O(selection × m) bytes through the planner and ZERO data jobs.
  * Idempotent re-index is free: re-ingesting a file deletes its catalog
  * rows, so stale sketches cannot survive a data change (rebuild after
  * re-index, like blooms); a replayed streaming batch re-attaches over
  * its own re-ingested rows.
  *
  * Estimator: classic HLL (Flajolet et al. 2007) over Spark's own
  * 64-bit `xxhash64` — m = 2^11 = 2048 registers (one byte each; 2 KB
  * per group), standard error 1.04/√m ≈ 2.3%. Small-range bias is
  * handled by linear counting below 2.5·m; the 64-bit hash makes the
  * large-range collision correction unnecessary at any real cardinality.
  * The hash is computed INSIDE the scan projection (codegen'd, null-safe
  * via a guard — xxhash64 of a NULL input would return the seed, which
  * must not count: COUNT(DISTINCT col) skips nulls and so does this).
  *
  * NOT an answer substitute: the estimate never replaces an exact
  * aggregate in a plan rewrite (fold == scan equality is the certificate
  * family's invariant, and an approximation can't hold it). It is an
  * explicit index-API capability — `StatsIndex.approxDistinct` — the
  * same opt-in posture as the row-level index's point lookups.
  */
object HllShadow extends LedgerFamily {

  /** log2(register count): m = 2048 ⇒ rse ≈ 2.3%, 2 KB per sketch. */
  val P = 11
  val M: Int = 1 << P
  private val Alpha = 0.7213 / (1.0 + 1.079 / M)

  /** Hashable-and-meaningful set: the same family the freq shadow
    * certifies (integrals + date/timestamp encodings + strings);
    * float/double stay out (NaN/-0.0 equality semantics diverge from
    * COUNT DISTINCT's) and binary/decimal can be added when a query
    * needs them. */
  def supported(dt: DataType): Boolean = FreqShadow.supported(dt)

  /** Fold one 64-bit hash into a register array. */
  def add(regs: Array[Byte], hash: Long): Unit = {
    val bucket = (hash >>> (64 - P)).toInt
    val w = hash << P
    // rho = leading-zero run of the remaining 53 bits, +1; w == 0 gives
    // nlz 64, capped by the same formula (64 - P + 1)
    val rho = math.min(java.lang.Long.numberOfLeadingZeros(w) + 1, 64 - P + 1)
    if (regs(bucket) < rho) regs(bucket) = rho.toByte
  }

  /** Union: byte-wise max, in place on `into`. */
  def merge(into: Array[Byte], from: Array[Byte]): Unit = {
    require(into.length == M && from.length == M,
      s"register width mismatch: ${into.length} vs ${from.length} vs $M")
    var i = 0
    while (i < M) {
      if (into(i) < from(i)) into(i) = from(i)
      i += 1
    }
  }

  /** Cardinality estimate with the small-range linear-counting switch. */
  def estimate(regs: Array[Byte]): Long = {
    require(regs.length == M, s"register width ${regs.length} != $M")
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < M) {
      sum += java.lang.Math.scalb(1.0, -regs(i))
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val raw = Alpha * M.toDouble * M.toDouble / sum
    val est =
      if (raw <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros)
      else raw
    math.rint(est).toLong
  }

  def columns(c: String): Seq[(String, String)] = Seq(s"${c}_hll" -> LedgerBuild.Sketch)

  /** Null guard BEFORE the hash: xxhash64(NULL) yields the seed, which
    * would register a phantom distinct value. */
  def derive(c: String, dt: DataType): Column = when(col(c).isNotNull, xxhash64(col(c)))

  /** An all-null group stores the ZERO sketch — the merge identity,
    * estimating 0 — so coverage certification ("every selected group has
    * a sketch") stays a simple non-NULL test. */
  def accumulator(dt: DataType, rowCount: Long): LedgerAcc = new LedgerAcc {
    private val regs = new Array[Byte](M)
    def add(r: Row, slot: Int): Unit = HllShadow.add(regs, r.getLong(slot))
    def bind(ps: PreparedStatement): Boolean = { ps.setBytes(1, regs); true }
  }
}
