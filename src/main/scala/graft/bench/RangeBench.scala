package graft.bench

import graft.{GraftSession, Tables}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType}

/** Measured range-join demo: the same point-in-interval join run
  * (a) naively — no equi key, so stock Spark plans
  * BroadcastNestedLoopJoin (O(points × intervals) comparisons) — and
  * (b) through
  * [[graft.ops.RangeJoin.pointInInterval]]'s binned equi-join.
  *
  * The workload: every order date (150k points at sf0.1) against
  * NARROW 4-day windows at the first ship date of orders 1..20000
  * (~5k intervals) — ~750M comparisons for the nested loop vs a
  * candidate set near the ~1.5M true matches for the binned join.
  * At 1000-executor scale the nested loop also broadcasts a whole
  * side; the binned join never does.
  *
  * Density matters and is part of the documented trade: when
  * intervals are so WIDE that candidates ≈ matches ≈ points ×
  * intervals × coverage, a codegen'd nested loop's cheap compares
  * can win locally (measured: 114-day windows on this data run 38 s
  * naive vs 64 s binned — the output IS ~33M pairs, nothing to
  * prune). Binning pays off when the comparison blowup dwarfs the
  * match count — the sparse regime every real point-in-interval
  * workload (sessions, validity windows, IP ranges) lives in, and
  * the only regime that is even feasible at 100 TB.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.bench.RangeBench"
  * Prints one JSON line; measured numbers recorded in SCALE.md.
  */
object RangeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt, "graft-rangebench")

    def intervals: DataFrame = Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") <= 20000)
      .groupBy(col("l_orderkey").as("i_orderkey"))
      .agg(
        min(unix_date(col("l_shipdate").cast(DateType)))
          .cast(LongType).as("lo_d"),
        (min(unix_date(col("l_shipdate").cast(DateType)))
          .cast(LongType) + 3).as("hi_d"))
    def points: DataFrame = Tables.orders(spark, sfDir).select(
      col("o_orderkey"),
      unix_date(col("o_orderdate").cast(DateType)).cast(LongType).as("p_d"))

    def agg(joined: DataFrame): Long =
      joined.groupBy(col("i_orderkey"))
        .agg(count(lit(1)).as("n_points")).count()

    // warm the scans so both variants pay the same I/O
    points.count(); intervals.count()

    val (nBinned, binnedSec) = Timing.secs(agg(
      graft.ops.RangeJoin.pointInInterval(points, "p_d", intervals,
        "lo_d", "hi_d", 8L)))
    // the rule's auto width: median span over a 4096-row prefix sample
    // (same heuristic as RangeJoinRewriteRule.sampledWidth)
    val autoWidth = {
      val spans = intervals
        .select((col("hi_d") - col("lo_d") + 1).as("span"))
        .filter(col("span") > 0).limit(4096)
        .collect().map(_.getLong(0)).sorted
      math.max(1L, spans(spans.length / 2))
    }
    val (nAuto, autoSec) = Timing.secs(agg(
      graft.ops.RangeJoin.pointInInterval(points, "p_d", intervals,
        "lo_d", "hi_d", autoWidth)))
    // the stock arm: on the factory session RangeJoinRewriteRule would
    // bin this join too, so it runs with the rule's off switch
    val (nNaive, naiveSec) = Timing.withConf(spark,
        graft.plans.RangeJoinRewriteRule.WidthConf -> "0") {
      val joined = points.join(intervals,
        col("p_d") >= col("lo_d") && col("p_d") <= col("hi_d"))
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("BroadcastNestedLoopJoin"),
        s"stock arm must plan the nested loop:\n$plan")
      Timing.secs(agg(joined))
    }
    require(nBinned == nNaive, s"row mismatch: $nBinned vs $nNaive")
    require(nAuto == nNaive, s"auto-width row mismatch: $nAuto vs $nNaive")

    println(f"""{"metric":"range_join","naive_bnlj_sec":$naiveSec%.2f,"binned_sec":$binnedSec%.2f,"auto_width":$autoWidth,"auto_binned_sec":$autoSec%.2f,"speedup":${naiveSec / binnedSec}%.1f,"intervals_rows":$nBinned,"sf":"$sfDir"}""")
    spark.stop()
  }
}
