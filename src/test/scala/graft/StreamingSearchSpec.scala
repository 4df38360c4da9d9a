package graft

import graft.streaming.SearchMaintenance
import org.apache.spark.sql.functions._


/** Continuous search-index maintenance (st8): append-only postings +
  * doc counts per micro-batch, ts3's ranked retrieval served from the
  * maintained store.
  *
  *  - Incremental equals full: after committing the corpus batch by
  *    batch, the maintained index's ranked answer equals ts3 over the
  *    whole corpus (the CORRECTNESS row additionally proves this
  *    against DuckDB).
  *  - Replay idempotence: re-committing the last batch changes nothing.
  *  - Read discipline: the query's postings scan carries a pushed
  *    filter on the term column — only the queried terms' rows read.
  */
class StreamingSearchSpec extends SparkSpec {

  private val terms = Seq("spark", "vector", "merge")

  test("maintained index equals the full pass; replay idempotent; term filter pushed") {
    val dir = sf("sf0.001")
    val art = tempDir("graft-search-maint")
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val batches = (0 until 3).map(i => docs.filter(col("doc_id") % 3 === i))
    batches.zipWithIndex.foreach { case (b, i) =>
      SearchMaintenance.commitBatch(b, i.toLong, art)
    }
    def ranked() = SearchMaintenance.rankedSearch(spark, art, terms, 15)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = ranked()
    // ground truth: the shared scorer over the whole corpus in one pass
    // (the scorer itself is independently pinned by the DuckDB oracle;
    // this test pins STORE equivalence — incremental equals full)
    val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w").isin(terms: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("n"))
    val want = SearchMaintenance.rankedScore(tf, n, 15)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === want, "maintained search index diverged from the full pass")
    assert(got.nonEmpty)

    // replay the last batch — append-only overwrite is a no-op
    SearchMaintenance.commitBatch(batches(2), 2L, art)
    assert(ranked() === got, "replayed batch changed the ranked answer")

    // the postings read is term-filtered AT THE SCAN
    val plan = SearchMaintenance.rankedSearch(spark, art, terms, 15)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(w,"),
      s"term filter not pushed into the postings scan:\n${plan.take(3000)}")

    // scheduled compaction: folds all but the newest batch dir, the
    // ranked answer is unchanged, and the replayable newest dir survives
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    SearchMaintenance.compact(spark, art, hconf)
    Seq("postings", "docn").foreach { store =>
      val names = new java.io.File(s"$art/$store").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(names === Set("base-1", "b2"), s"$store after compaction: $names")
    }
    assert(ranked() === got, "compaction changed the ranked answer")
    SearchMaintenance.commitBatch(batches(2), 2L, art)
    assert(ranked() === got, "replay after compaction changed the ranked answer")
  }
}
