package perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}
import scala.collection.mutable

/** Times the timed part of each op and reads the process counters
  * around it, so e2e metrics cover the ops and nothing between them.
  * `heapPeak` is the largest old-generation usage after any collection
  * inside an op, or at its start. */
final class Meter {
  val latencies = mutable.ArrayBuffer[Double]()
  var cpuNs, fsBytes, heapPeak = 0L

  def apply[T](f: => T): T = {
    OldGenPeak.arm()
    val (c0, b0, t0) = (Probe.cpuNs(), Probe.fs()._1, System.nanoTime())
    try f
    finally {
      latencies += (System.nanoTime() - t0) / 1e9
      cpuNs += Probe.cpuNs() - c0
      fsBytes += Probe.fs()._1 - b0
      heapPeak = math.max(heapPeak, OldGenPeak.disarm())
    }
  }
}

/** Span hook for code shared by the traced and the untraced path. */
trait Spans {
  def apply[T](name: String)(f: => T): T
}

object NoSpans extends Spans {
  def apply[T](name: String)(f: => T): T = f
}

/** One benchmark workload; [[Main]] drives it through set-up, the
  * untraced timed loop and, with `--trace 1`, the traced loop. Every op
  * checks its outputs and throws [[Mismatch]] when they are wrong. */
trait Workload {

  /** Name, or name prefix, of the traced loop's timed root spans. */
  val timedOpName: String

  /** Set-up rounds per run: the first pays the JVM's warm-up. */
  def setupRounds: Int

  /** One set-up round in the empty directory `dir` on a fresh session:
    * generate the inputs and preload them. */
  def setup(spark: org.apache.spark.sql.SparkSession, dir: java.nio.file.Path): Unit

  /** One untimed warm-up op after the last set-up round. */
  def warmUp(): Unit

  /** Traced runs only, after set-up and before the warm-up: prepare
    * the traced loop's inputs. */
  def prepareTraced(): Unit = ()

  /** Timed ops per run of `seconds` seconds: fixed per workload, so a
    * run does the same work on every commit. */
  def opCount(seconds: Int): Int

  /** Untraced op `i`: untimed preparation, the timed part inside
    * `meter`, then the output checks. */
  def op(i: Int, meter: Meter): Unit

  /** Traced op `i` over the same inputs as untraced op `i`. */
  def tracedOp(t: Tracer, i: Int): Unit

  /** Whether ops can run again on the same inputs. The first run of a
    * query in the process pays its code generation; a traced run then
    * repeats the untraced loop, so tracing overhead compares two warm
    * loops. */
  def rerunnable: Boolean = false

  /** An extra checked op after each loop (untimed in the untraced one). */
  def hasReplay: Boolean = false
  def replay(): Unit = ()
  def tracedReplay(t: Tracer): Unit = ()

  /** Per-layer metrics from the traced loop's spans. */
  def layerMetrics(t: Tracer): Map[String, Double]
}

/** An op output that differs from what it must be. */
final case class Mismatch(msg: String) extends RuntimeException(msg)

object Workload {

  /** Materialize `df` through the `noop` sink, counting its rows in the
    * same pass. */
  def rowsThroughNoop(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
}
