package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.bench.Timing

/** Measured bucketed-layout demo (SURVEY.md §4 / VERDICT r5 item 8):
  * the same fact-fact join run (a) off plain parquet — both sides
  * shuffle on the join key — and (b) off tables bucketed on that key
  * — zero exchanges. Broadcast is disabled so the comparison models
  * the 100 TB both-sides-big case, where the two eliminated shuffles
  * are the dominant cost; at a 1000-executor scale the bucketed
  * layout also removes the all-to-all network step entirely.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.BucketBench"
  * Prints one JSON line; measured numbers recorded in SCALE.md.
  */
object BucketBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val buckets = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(buckets, "graft-bucketbench")

    sources.Sinks.writeBucketed(
      Tables.lineitem(spark, sfDir), "bb_lineitem", "l_orderkey", buckets)
    sources.Sinks.writeBucketed(
      Tables.orders(spark, sfDir), "bb_orders", "o_orderkey", buckets)

    def joinAgg(li: DataFrame, od: DataFrame): DataFrame =
      li.join(od, li("l_orderkey") === od("o_orderkey"))
        .groupBy(od("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))

    def shuffles(df: DataFrame): Int = {
      df.count() // settle AQE so the final plan is the one measured
      "- Exchange \\(".r
        .findAllIn(df.queryExecution.explainString(FormattedMode)).size
    }

    val plain = () => joinAgg(Tables.lineitem(spark, sfDir),
      Tables.orders(spark, sfDir))
    val bucketed = () => joinAgg(spark.table("bb_lineitem"),
      spark.table("bb_orders"))

    // model both-sides-big: no broadcast escape hatch
    val (shPlain, shBucketed, tPlain, tBucketed) = Timing.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val shPlain = shuffles(plain())
      val shBucketed = shuffles(bucketed())
      // warm both paths once (above), then time 3 runs each
      def med(f: () => DataFrame): Double =
        (1 to 3).map(_ => Timing.secs(f().count())._2).sorted.apply(1)
      (shPlain, shBucketed, med(plain), med(bucketed))
    }
    println(s"""{"plain_sec":$tPlain,"bucketed_sec":$tBucketed,""" +
      s""""plain_shuffles":$shPlain,"bucketed_shuffles":$shBucketed,""" +
      s""""buckets":$buckets,"sf_dir":"$sfDir"}""")
    spark.stop()
  }
}
