package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.bench.Timing

/** Top-k-per-key A/B at sf0.1: the stock `row_number` window plan vs
  * the bounded-heap [[graft.plans.TopKPerKey]] operator. The stock
  * arm runs with TopKRewriteRule excluded — on the factory session
  * the rule would otherwise rewrite the window into the heap and the
  * A/B would time the heap against itself.
  *
  * Run: sbt "runMain graft.TopKBench"; prints one JSON line.
  */
object TopKBench {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32)
    val orders = Tables.orders(spark, "/root/testdata/sf0.1")
    def warmThenTime(df: DataFrame): Double = {
      Timing.noop(df)
      Timing.secs(Timing.noop(df))._2
    }
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val windowSec = Timing.withConf(spark, plans.TopKRewriteRule.Off) {
      val df = orders.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= 3).drop("_rn")
      val plan = df.queryExecution.optimizedPlan.toString
      require(plan.contains("Window") && !plan.contains("TopKPerKey"),
        s"stock arm must plan the window:\n$plan")
      warmThenTime(df)
    }
    val heapSec = warmThenTime(plans.TopKPerKey.topKPerKey(orders,
      Seq("o_custkey"), Seq(("o_totalprice", true), ("o_orderkey", false)), 3))
    println(f"""{"metric":"topk_per_key","window_sec":$windowSec%.2f,""" +
      f""""heap_sec":$heapSec%.2f,"speedup":${windowSec / heapSec}%.2f}""")
    spark.stop()
  }
}
