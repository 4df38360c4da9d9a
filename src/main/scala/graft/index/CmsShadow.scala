package graft.index

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.types._

import java.nio.ByteBuffer
import java.sql.PreparedStatement

/** Per-row-group COUNT-MIN ledger (r15) — the point-frequency member of
  * the shadow family, completing the sketch quartet the catalog serves:
  * [[BloomIndex]] answers "is this value HERE?", [[HllShadow]] "how many
  * DISTINCT values?", [[QuantileShadow]] "what value sits at rank q?",
  * and this one "how many ROWS equal THIS value?" — the selectivity /
  * heavy-hitter estimate a planner wants before choosing a broadcast,
  * sizing a shuffle, or salting a hot key, with zero data jobs.
  *
  * One Count-Min table per (row group, column): depth D = 4 rows ×
  * width W = 1024 columns of int32 counters (16 KB). Counters merge by
  * CELL-WISE ADDITION (the sketch is a linear projection of the
  * frequency vector), so the estimate over ANY row-group subset is one
  * merge over the selected groups' tables — the same composition as
  * every other ledger. The classic guarantees hold per query:
  * estimate ≥ true count always (counters only over-count), and
  * estimate ≤ true + εN with probability ≥ 1 − (1/2)^D at ε = 2/W
  * ≈ 0.2 % of the selected population.
  *
  * Hashing: ONE xxhash64 per row computed inside the scan projection
  * (codegen'd, null-guarded — NULL rows are not frequencies, exactly as
  * COUNT(col) skips them), split into two 32-bit halves h1, h2 and
  * expanded into D row positions by double hashing
  * (h_i = h1 + i·(h2 | 1), the standard Kirsch–Mitzenmacher scheme the
  * bloom layer uses too). The PROBE side reproduces the identical hash
  * planner-side by evaluating Spark's own XxHash64 expression on the
  * probe literal — one code path for writer and reader, no cross-engine
  * hash drift.
  *
  * NOT an answer substitute: like every sketch ledger, the estimate
  * never replaces an exact aggregate in a plan rewrite — explicit API
  * capability ([[StatsIndex.approxFrequency]]), fail-closed coverage.
  */
object CmsShadow extends LedgerFamily {

  val Depth = 4
  val Width = 1024
  /** Serialized size: D × W × 4 bytes = 16 KB, inside Derby's 32 KB. */
  val Bytes: Int = Depth * Width * 4

  /** Same hashable family as the HLL ledger (integrals + date/timestamp
    * encodings + strings; float/double excluded for the same NaN/-0.0
    * equality reasons). */
  def supported(dt: DataType): Boolean = HllShadow.supported(dt)

  /** Row positions for one 64-bit hash. */
  def positions(hash: Long): Array[Int] = {
    val h1 = (hash & 0xffffffffL).toInt
    val h2 = ((hash >>> 32) | 1L).toInt
    Array.tabulate(Depth) { i =>
      math.floorMod(h1 + i * h2, Width)
    }
  }

  def add(counts: Array[Int], hash: Long): Unit = {
    val pos = positions(hash)
    var i = 0
    while (i < Depth) {
      val idx = i * Width + pos(i)
      // saturating: a 2^31-row row group does not exist, but a merged
      // counter could wrap after many merges — clamp, never overflow
      // (over-counting keeps the ≥-true guarantee)
      if (counts(idx) != Int.MaxValue) counts(idx) += 1
      i += 1
    }
  }

  /** Union by cell-wise saturating addition, in place on `into`. */
  def merge(into: Array[Int], from: Array[Int]): Unit = {
    require(into.length == Depth * Width && from.length == Depth * Width,
      s"cms width mismatch: ${into.length} vs ${from.length}")
    var i = 0
    while (i < into.length) {
      val s = into(i).toLong + from(i).toLong
      into(i) = if (s > Int.MaxValue) Int.MaxValue else s.toInt
      i += 1
    }
  }

  /** Point-frequency estimate: min over depth rows. */
  def estimate(counts: Array[Int], hash: Long): Long = {
    val pos = positions(hash)
    var best = Long.MaxValue
    var i = 0
    while (i < Depth) {
      val c = counts(i * Width + pos(i)).toLong
      if (c < best) best = c
      i += 1
    }
    best
  }

  def serialize(counts: Array[Int]): Array[Byte] = {
    val buf = ByteBuffer.allocate(Bytes)
    counts.foreach(buf.putInt)
    buf.array()
  }

  def deserialize(bytes: Array[Byte]): Array[Int] = {
    require(bytes.length == Bytes, s"cms blob ${bytes.length} != $Bytes")
    val buf = ByteBuffer.wrap(bytes)
    Array.fill(Depth * Width)(buf.getInt)
  }

  def columns(c: String): Seq[(String, String)] = Seq(s"${c}_cms" -> LedgerBuild.Sketch)

  def derive(c: String, dt: DataType): Column = HllShadow.derive(c, dt)

  def accumulator(dt: DataType, rowCount: Long): LedgerAcc = new LedgerAcc {
    private val counts = new Array[Int](Depth * Width)
    def add(r: Row, slot: Int): Unit = CmsShadow.add(counts, r.getLong(slot))
    def bind(ps: PreparedStatement): Boolean = { ps.setBytes(1, serialize(counts)); true }
  }
}
