package graft

import graft.index.{RowGroupStat, StatsBridge}
import graft.prune.PartPrune
import graft.sources.IndexedParquet
import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, IsNotNull}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._

/** Soundness pin for the row-group constancy engine
  * ([[graft.prune.PartPrune.decide]]): whenever it decides a conjunct
  * for a row group — `Some(true)`, every row passes; `Some(false)`, every
  * row evaluates to false or NULL — Spark's own evaluation of that
  * conjunct on every row of the group must agree. Undecided (None) is
  * always allowed. Seeded single-file tables of 8-row groups mix
  * null-free, partial-null and all-null `ts` slices with one-day,
  * multi-day, single-instant and NY-spring-transition time shapes, and
  * `k` constant or not per group. */
class ConstancyEngineSoundnessSpec extends SparkSpec {

  private val NY = "America/New_York"
  private val RowsPerGroup = 8
  private val Groups = 16

  private def micros(s: String): Long =
    java.time.Instant.parse(s).toEpochMilli * 1000L

  test("every decided (conjunct, row group) agrees with Spark on every row") {
    import spark.implicits._
    val nyDay = to_date(from_utc_timestamp(col("ts"), NY))
    val menu: Seq[(String, Column)] = Seq(
      "dayofweek IN" -> dayofweek(col("ts")).isin(1, 7),
      "year =" -> (year(col("ts")) === 2024),
      "IS NULL" -> dayofweek(col("ts")).isNull,
      "NOT" -> not(dayofweek(col("ts")).isin(1, 7)),
      "piecewise range" -> (nyDay >= lit(java.sql.Date.valueOf("2024-03-10"))),
      "piecewise unwrapped range" -> (from_utc_timestamp(col("ts"), NY) <
        lit(java.sql.Timestamp.valueOf("2024-03-10 12:00:00"))),
      "NOT piecewise <=>" -> not(nyDay.eqNullSafe(lit(java.sql.Date.valueOf("2024-03-09")))),
      "raw mixed with a part" -> (col("k") === 3L || month(col("ts")) === 3))
    val decided = scala.collection.mutable.Map.empty[(String, Boolean), Int]
      .withDefaultValue(0)
    var allNullDecided = 0
    val dayUs = 86400000000L
    val spring = micros("2024-03-10T07:00:00Z")
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(20261020L + seed)
      val rows = (0 until Groups).flatMap { g =>
        val nullMode = rnd.nextInt(5) // 0-2 none, 3 partial, 4 all
        // a UTC day between 2023-12-25 and 2024-03-15
        val day0 = micros("2023-12-25T00:00:00Z") + rnd.nextInt(81) * dayUs
        val shape = rnd.nextInt(4)
        val kConst = rnd.nextBoolean()
        val instant = day0 + (rnd.nextDouble() * dayUs).toLong
        (0 until RowsPerGroup).map { r =>
          val i = g * RowsPerGroup + r
          val us = shape match {
            case 0 => day0 + (rnd.nextDouble() * dayUs).toLong          // one UTC day
            case 1 => day0 + (rnd.nextDouble() * 3 * dayUs).toLong      // several days
            case 2 => instant                                            // one instant
            case _ => spring + ((rnd.nextDouble() * 2 - 1) * 30 * 3600e6).toLong
          }
          val isNull = nullMode == 4 || (nullMode == 3 && r % 3 == 0)
          (i.toLong, if (kConst) g.toLong else i.toLong, if (isNull) None else Some(us))
        }
      }
      val base = tempDir("graft-engine-sweep")
      val dir = s"$base/data"
      graft.operators.Indexed.withMicrosTimestamps(spark) {
        rows.toDF("i", "k", "us")
          .select(col("i"), col("k"), timestamp_micros(col("us")).as("ts"))
          .coalesce(1)
          .write.option("parquet.block.row.count.limit", RowsPerGroup.toString)
          .mode("overwrite").parquet(dir)
      }
      val (index, schema) = IndexedParquet.buildIndex(
        spark, dir, Seq("i", "k", "ts"), s"$base/db")
      val (df, _) = IndexedParquet.read(spark, dir, index, schema)
      val plain = spark.read.parquet(dir)
      val statsBy: Map[String, Map[Int, RowGroupStat]] = Seq("k", "ts").map(c =>
        c -> index.rowGroupStats(c).get.map(s => s.rowGroup -> s).toMap).toMap
      assert(statsBy("ts").size === Groups)
      // row group g holds rows i in [8g, 8g + 8): what `truth` groups by
      index.rowGroupStats("i").get.foreach { s =>
        assert(s.rowCount == RowsPerGroup &&
          s.min.contains(java.lang.Long.valueOf(s.rowGroup * RowsPerGroup)) &&
          s.max.contains(java.lang.Long.valueOf(s.rowGroup * RowsPerGroup + RowsPerGroup - 1)),
          s"row group ${s.rowGroup} does not hold the rows written for it: $s")
      }
      val gate = (a: AttributeReference) => Set("k", "ts").contains(a.name)
      for ((tag, c) <- menu) {
        // the optimized condition is what the serving paths see (ToDate
        // replaced, isnotnull(ts) inferred); every conjunct that compiles
        // is checked, each against its own per-row evaluation
        val cond = df.filter(c).queryExecution.optimizedPlan.collectFirst {
          case f: Filter => f.condition
        }.get
        val compiled = StatsBridge.conjuncts(cond)
          .flatMap(cj => PartPrune.compile(cj, gate, gate).map(cj -> _))
        assert(compiled.exists(!_._1.isInstanceOf[IsNotNull]), s"$tag did not compile")
        for ((cj, cc) <- compiled) {
          val onPlain = cj.transform { case a: AttributeReference =>
            plain.queryExecution.analyzed.output.find(_.name == a.name).get
          }
          val truth: Map[Int, Seq[Any]] =
            plain.select(col("i"), GraftSqlShim.column(onPlain).as("r")).collect()
              .toSeq.groupMap(r => (r.getLong(0) / RowsPerGroup).toInt)(r => r.get(1))
          (0 until Groups).foreach { g =>
            PartPrune.decide(cc, col => statsBy(col).get(g)).foreach { b =>
              if (!cj.isInstanceOf[IsNotNull]) {
                decided((tag, b)) += 1
                if (statsBy("ts")(g).nullCount.contains(RowsPerGroup.toLong))
                  allNullDecided += 1
              }
              val vs = truth(g)
              if (b) assert(vs.forall(_ == true),
                s"$tag: $cj, seed $seed group $g decided true, rows evaluate $vs")
              else assert(vs.forall(_ != true),
                s"$tag: $cj, seed $seed group $g decided false, rows evaluate $vs")
            }
          }
        }
      }
    }
    menu.foreach { case (tag, _) =>
      assert(decided((tag, true)) + decided((tag, false)) > 0,
        s"$tag was never decided — vacuous")
    }
    info(s"decisions per (conjunct, verdict): $decided, all-null groups decided: $allNullDecided")
    assert(decided.values.sum > 100, decided.toString)
    assert(allNullDecided > 0, "no all-null group was ever decided")
  }
}
