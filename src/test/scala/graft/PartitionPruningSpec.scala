package graft

import org.apache.spark.sql.functions._


/** Hive-partitioned layout: the third metadata pruning lever (alongside
  * the external stats index and bucketing) — a partition-column filter
  * eliminates whole directories at planning time, before any file I/O.
  */
class PartitionPruningSpec extends SparkSpec {

  test("partition-column filter prunes directories at plan time") {
    val base = tempDir("graft-part")
    val events = Tables.load(spark, sf("sf0.001"), "events")
    events.write.partitionBy("event_type").parquet(s"$base/events")
    val types = events.select("event_type").distinct()
      .collect().map(_.getString(0)).sorted
    assert(types.length > 1, "fixture needs multiple partitions")
    val target = types.head

    val part = spark.read.parquet(s"$base/events")
      .filter(col("event_type") === target)
    val p = part.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(event_type"), p.take(1500))
    // the data filter list must NOT contain the partition predicate —
    // it was consumed at planning time, not evaluated per row
    assert(!p.contains(s"PushedFilters: [IsNotNull(event_type)"), p.take(1500))

    val want = events.filter(col("event_type") === target).count()
    assert(part.count() == want)
  }
}
