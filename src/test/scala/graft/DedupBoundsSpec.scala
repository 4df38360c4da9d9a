package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._


/** dd2's posting-list cap: a synthetic hot shingle (present in every
  * document) must never reach pair expansion, bounding every bucket task
  * at O(cap²), while rare-shingle near-dups are still found end-to-end.
  */
class DedupBoundsSpec extends SparkSpec {

  test("hot posting lists are dropped before pair expansion") {
    import spark.implicits._
    // 200 docs all share shingle "hot"; docs 1 and 2 also share "rare"
    val sh = ((0L until 200L).map(d => (d, "hot")) ++
      Seq((1L, "rare"), (2L, "rare"))).toDF("doc_id", "s")
    val post = Dedup.postings(sh, Dedup.MaxPosting)
    val sizes = post.select(max(size(col("ds")))).collect().head
    assert(!sizes.isNullAt(0) && sizes.getInt(0) <= Dedup.MaxPosting)
    // the only surviving bucket is the rare one → exactly one pair
    val pairs = Dedup.pairCounts(post).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("dd5 block cap bounds a hot label deterministically") {
    import spark.implicits._
    // one hot label (0) with 4x the cap, one cold label (1) under it
    val df = ((0L until (Dedup.MaxBlock * 4L)).map(i => (i, 0)) ++
      (100000L until 100010L).map(i => (i, 1))).toDF("vec_id", "label")
    val capped = Dedup.capBlocks(df, Dedup.MaxBlock)
    val sizes = capped.groupBy("label").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes(0) == Dedup.MaxBlock.toLong, s"hot label not capped: $sizes")
    assert(sizes(1) == 10L, s"cold label truncated: $sizes")
    // determinism: same subset on re-evaluation (md5 order is data-derived)
    val first = capped.filter(col("label") === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val second = Dedup.capBlocks(df, Dedup.MaxBlock)
      .filter(col("label") === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(first == second)
  }

  test("connected components: min-label over chains, stars, singleton edges") {
    import spark.implicits._
    // components: {1,7}, {2,3,4,9} (chain 9-4-3-2 forces multi-round
    // propagation), {10,11,12} (star on 10)
    val pairs = Seq((1L, 7L), (9L, 4L), (4L, 3L), (3L, 2L),
      (10L, 11L), (10L, 12L)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 7L -> 1L,
      2L -> 2L, 3L -> 2L, 4L -> 2L, 9L -> 2L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("connected components: a long chain converges in O(log diameter) rounds") {
    import spark.implicits._
    // path 100-99-…-80: diameter 20. Plain min-label propagation would
    // need ~20 rounds; pointer jumping must close it in O(log d).
    val pairs = (80L until 100L).map(i => (i + 1, i)).toDF("a", "b")
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (80L to 100L).toSet)
    assert(got.values.forall(_ == 80L), s"chain not fully converged: $got")
    // log2(21) ≈ 4.4; +2 slack for the init round and the convergence-
    // observation round. A propagation-only implementation needs 20+.
    assert(rounds <= 7, s"expected O(log diameter) rounds, used $rounds")
  }

  test("connected components: non-convergence throws, never returns truncated labels") {
    import spark.implicits._
    val pairs = (80L until 100L).map(i => (i + 1, i)).toDF("a", "b")
    // force the DISTRIBUTED loop (driverMaxEdges = 0): the r17 driver
    // fast path always converges — this tripwire pins the loop's
    // truncation guard, which still protects every over-bound input
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, maxRounds = 1, driverMaxEdges = 0L)
        .collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("dd6 components are consistent with dd3 pairs on real data") {
    val dir = "/root/testdata/sf0.01"
    val pairs = SparkEntry.queries("dd3_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val comp = SparkEntry.queries("dd6_components")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.nonEmpty)
    // every paired doc is labeled, pair endpoints share a component
    pairs.foreach { case (a, b) =>
      assert(comp(a) == comp(b), s"pair ($a,$b) split across components")
    }
    // each component id is the min member of its component
    comp.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min == c, s"component $c not labeled by its min")
    }
    // vertices = exactly the docs that appear in some pair
    assert(comp.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
  }

  test("dd13 incremental labels equal dd6's full recompute exactly") {
    // star-compression soundness on real data: merging the batch into the
    // persisted corpus labels must land on the identical (doc_id,
    // component) set as running label propagation over the whole graph
    val dir = sf("sf0.001")
    val full = SparkEntry.queries("dd6_components")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = SparkEntry.queries("dd13_incremental_components")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc === full)
  }

  test("dd7 hot clusters subdivide instead of truncate: full dup recall, bounded blocks") {
    import spark.implicits._
    // ONE hot cell with 620 members (2.4x MaxBlock): 600 pseudo-random
    // base vectors plus 20 exact duplicates; and one cold cell (10
    // members, 1 dup pair). The pre-r5 hard cap kept only the first
    // MaxBlock members per cell in md5 order — dup pairs whose members
    // ranked past the cap were silently lost. Band subdivision must find
    // ALL dup pairs (identical vectors share every band signature) while
    // no post-cap block exceeds MaxBlock.
    val rnd = new scala.util.Random(42)
    val base = (0 until 600).map { i =>
      (i.toLong, Array.fill(64)((rnd.nextInt(2001) - 1000).toLong), 0)
    }
    val dups = (0 until 20).map(i => (1000L + i, base(i)._2, 0))
    val coldBase = (2000 until 2010).map { i =>
      (i.toLong, Array.fill(64)((rnd.nextInt(2001) - 1000).toLong), 1)
    }
    val cold = coldBase :+ ((3000L, coldBase.head._2, 1))
    val assigned = (base ++ dups ++ cold)
      .map { case (id, v, cell) => (id, v, v.map(x => x * x).sum, cell) }
      .toDF("vec_id", "v", "nn", "cell")

    val blocks = Dedup.semanticBlocks(spark, assigned)
    val maxBlock = blocks.groupBy("label").count()
      .agg(max(col("count"))).collect().head.getLong(0)
    assert(maxBlock <= Dedup.MaxBlock, s"block of $maxBlock exceeds the cap")

    val pairs = Dedup.semanticPairs(spark, assigned)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dupPairs = (0 until 20).map(i => (i.toLong, 1000L + i)).toSet
    assert(dupPairs.subsetOf(pairs),
      s"lost ${(dupPairs -- pairs).size} of 20 hot-cell dup pairs")
    assert(pairs.contains((2000L, 3000L)), "cold-cell dup pair lost")

    // the pre-subdivision shape (hard cap on the cell) demonstrably LOSES
    // dup pairs on this fixture — the recall gap this change closes
    val hardCapped = Dedup.capBlocks(
      assigned.withColumnRenamed("cell", "label"), Dedup.MaxBlock)
    val keptIds = hardCapped.filter(col("label") === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val oldRecall = dupPairs.count { case (a, b) =>
      keptIds.contains(a) && keptIds.contains(b) }
    assert(oldRecall < 20, "fixture does not exercise the old cap's drop")
  }

  test("dd2 end-to-end on a hot-shingle corpus still finds rare near-dups") {
    import spark.implicits._
    val base = tempDir("graft-dd2cap")
    val hot = "the quick brown fox jumps over the lazy dog again and again"
    // 100 docs share the hot sentence; docs 1 and 2 are near-identical
    // beyond it (long shared tail, one differing word — the tail must be
    // long because capped hot shingles still count in the Jaccard
    // DENOMINATOR, only the shared-count numerator drops them); the rest
    // get unique filler
    val tail = (1 to 49).map(i => s"shared$i").mkString(" ")
    val docs = (0L until 100L).map { d =>
      val unique =
        if (d == 1L) s"$tail kappa"
        else if (d == 2L) s"$tail lambda"
        else s"filler${d}a filler${d}b filler${d}c filler${d}d filler${d}e"
      (d, s"$hot $unique")
    }
    docs.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    val got = SparkEntry.queries("dd2_ngram_jaccard")(spark, base)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), s"rare near-dup pair lost: $got")
    // hot-shingle-only co-occurrence must not create pairs
    assert(got.forall { case (a, b) => Set(a, b) == Set(1L, 2L) },
      s"hot shingle leaked pairs: $got")
  }
}
