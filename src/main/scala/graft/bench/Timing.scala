package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one timing toolkit of the measurement mains (Bench, ScaleBench,
  * BucketBench, RangeBench, TopKBench): wall seconds, min-of-n,
  * full-column materialization, scratch cleanup, and scoped session
  * confs for A/B arms. */
object Timing {

  /** Run `f` once: its value and the wall seconds it took. */
  def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Min-of-n: run `f` `n` times back to back and keep the fastest
    * run (its value and seconds). A load burst on this class of host
    * inflates whichever run it lands on; the min discards it. */
  def best[A](n: Int)(f: => A): (A, Double) =
    (1 to n).map(_ => secs(f)).minBy(_._2)

  /** Execute the full plan through the noop sink: every column
    * materializes (`count` would let Catalyst prune projections). */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Recursively delete `path` on its filesystem, if it exists. */
  def rmrf(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Run `body` with the session confs `kv` set, then restore each
    * key's previous value — or unset it if it was unset — even when
    * `body` throws. Confs read at planning time (optimizer rule
    * exclusions, join thresholds) apply only to plans optimized
    * inside `body`. */
  def withConf[A](spark: SparkSession, kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
