package graft.index

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.util.sketch.BloomFilter

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.sql.PreparedStatement

/** Per-row-group bloom filters in the external catalog — the reference's
  * third named index extension (/root/reference/sqlx-sqlite/src/main.rs:34-37,
  * index.rs:30-35: "other indexes, e.g. bloom filters, can be added").
  *
  * Min/max statistics cannot prune equality probes on high-cardinality
  * UNSORTED keys (every row group's range spans the whole domain). A small
  * bloom filter per (file, row_group, column), stored next to the min/max
  * row in `row_group_statistics` and probed by the catalog itself during
  * the pruning query, prunes exactly those: a `=`/`IN` conjunct keeps only
  * row groups whose bloom might contain the key (plus the usual NULL-stats
  * "might match" fallback).
  *
  * Scale notes (100 TB):
  *  - [[LedgerBuild]] fills the blooms in its one distributed scan, one
  *    task per row group, each task streaming its own column chunk into a
  *    bloom sized from the group's row count (capped at
  *    [[BloomProbe.MaxBloomBytes]]) — the driver never sees a bloom;
  *  - probing happens INSIDE the catalog's SQL (a registered Java function
  *    over the bloom bytes), so the pruning query stays one round trip and
  *    bloom bytes never ship to the planner.
  */
object BloomIndex extends LedgerFamily {

  /** Types a bloom column may have: exact-equality-probe-able types whose
    * values hash identically at ingest and probe time (integrals widen to
    * long; strings hash their UTF-8 bytes). */
  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  def columns(c: String): Seq[(String, String)] = Seq(s"${c}_bloom" -> LedgerBuild.Sketch)

  def derive(c: String, dt: DataType): Column = col(c)

  /** Sized from the catalog's row count, so values stream into the bloom:
    * per-task memory is the bloom's byte cap, independent of row-group
    * size (a distinct-set would be O(row group) heap at 1M-row groups). */
  def accumulator(dt: DataType, rowCount: Long): LedgerAcc = new LedgerAcc {
    private val bloom = BloomProbe.create(rowCount)
    def add(r: Row, slot: Int): Unit = BloomProbe.put(bloom, r.get(slot))
    def bind(ps: PreparedStatement): Boolean = {
      ps.setBytes(1, BloomProbe.serialize(bloom))
      true
    }
  }
}

/** Bloom build/serialize helpers plus the Derby-callable probe functions.
  * The probe statics are registered as Derby SQL functions
  * (`GRAFT_BLOOM_LONG`/`GRAFT_BLOOM_STR`, DerbyStatsIndex DDL) — embedded
  * Derby shares this JVM, so the catalog evaluates probes in-process and
  * the pruning query never ships bloom bytes out of the store. */
object BloomProbe {

  /** Target false-positive rate of a bloom sized for its row group. */
  val Fpp = 0.01

  /** Byte cap of one bloom: the catalog grows by at most this per row
    * group (~4 GB for a 100 TB table at 128 MB row groups). */
  val MaxBloomBytes = 4096

  /** Empty bloom sized for `expectedItems` (an upper bound — the catalog's
    * row count stands in for the distinct count) at [[Fpp]], capped at
    * [[MaxBloomBytes]] so the catalog row stays small; at the cap the
    * filter degrades gracefully to a higher fpp (over-scan, never
    * under-scan). */
  def create(expectedItems: Long): BloomFilter = {
    val n = math.max(1L, expectedItems)
    val optimalBits =
      math.ceil(-n * math.log(Fpp) / (math.log(2) * math.log(2))).toLong
    val bits = math.max(64L, math.min(optimalBits, MaxBloomBytes.toLong * 8L))
    BloomFilter.create(n, bits)
  }

  /** Ingest one value: integrals widen to long (the probe widens
    * identically), strings hash their UTF-8 bytes. */
  def put(bloom: BloomFilter, value: Any): Unit = value match {
    case s: String => bloom.putString(s); ()
    case x: java.lang.Number => bloom.putLong(x.longValue); ()
    case other => throw new IllegalArgumentException(s"unbloomable value $other")
  }

  def serialize(bloom: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    bloom.writeTo(out)
    out.toByteArray
  }

  // ---- Derby-callable probes ----------------------------------------------
  // Deserializing a bloom costs more than probing it, and Derby calls the
  // function once per candidate row — cache deserialized filters keyed by
  // their bytes. Bounded: cleared wholesale past 4096 entries (a catalog
  // query touches each row group's bloom once; the cache only needs to
  // carry hot blooms across queries).

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[java.nio.ByteBuffer, BloomFilter]()

  private def filterFor(bytes: Array[Byte]): BloomFilter = {
    if (cache.size > 4096) cache.clear()
    cache.computeIfAbsent(java.nio.ByteBuffer.wrap(bytes),
      _ => BloomFilter.readFrom(new ByteArrayInputStream(bytes)))
  }

  /** Derby function GRAFT_BLOOM_LONG: 1 = might contain, 0 = definitely
    * absent. Integral column values are widened to long at ingest, so the
    * probe widens identically. */
  def mightContainLong(bloom: Array[Byte], v: Long): Int =
    if (filterFor(bloom).mightContainLong(v)) 1 else 0

  /** Derby function GRAFT_BLOOM_STR. */
  def mightContainString(bloom: Array[Byte], v: String): Int =
    if (filterFor(bloom).mightContainString(v)) 1 else 0
}
