package perfbench

import java.nio.file.Paths
import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload per run, on one local session, from
  * one thread, as a closed loop with one client (each op starts when
  * the previous one has completed).
  *
  * Set-up runs [[Workload.setupRounds]] times, each round on a fresh
  * session, then one warm-up op; setup_s is the median round plus the
  * warm-up.
  * `--trace 0` reports the end-to-end metrics of the untraced loop;
  * `--trace 1` runs the untraced loop and then a traced loop over the
  * same inputs, and reports the per-layer metrics. The last stdout line
  * is one JSON object: correct, attempted, failed, metrics.
  */
object Main {
  /** Session cores: pinned, so plans and results are the same on every host. */
  val Cores = 4

  /** Per-layer metric names and units, in report order. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "nhl.ledger.copy_s" -> "s", "nhl.ledger.records_read" -> "count",
    "nhl.ledger.rows_appended" -> "count", "nhl.ledger.append_ratio" -> "ratio",
    "nhl.ledger.files_loaded" -> "count", "nhl.ledger.files_skipped" -> "count",
    "nhl.ledger.fs_ops" -> "count", "nhl.ledger.jobs" -> "count",
    "nhl.ledger.cpu_s" -> "s", "nhl.ledger.bytes_written" -> "bytes",
    "nhl.quality.gate_s" -> "s", "nhl.quality.records_read" -> "count",
    "nhl.staging.materialize_s" -> "s", "nhl.staging.rows_out" -> "count",
    "nhl.mart.materialize_s" -> "s", "nhl.mart.rows_out" -> "count",
    "nhl.mart.shuffle_bytes" -> "bytes", "nhl.mart.cpu_s" -> "s",
    "nhl.pipeline.self_s" -> "s", "nhl.pipeline.replay_s" -> "s") ++
    QueryMix.Families.map(_._1).flatMap(f => Seq(
      s"$f.build_s" -> "s", s"$f.plan_s" -> "s", s"$f.execute_s" -> "s",
      s"$f.jobs" -> "count", s"$f.cpu_s" -> "s", s"$f.shuffle_bytes" -> "bytes",
      s"$f.fs_ops" -> "count", s"$f.busy_ratio" -> "ratio")) ++ Seq(
    "spark.jobs" -> "count", "spark.busy_ratio" -> "ratio", "trace.overhead_s" -> "s")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    if (opt.contains("record-expected")) {
      val spark = GraftSession.local(Cores, "perfbench-record")
      try ContentHash.record(spark, opt("record-expected"), QueryMix.Names).foreach(println)
      finally spark.stop()
      return
    }
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val w: Workload = workload match {
      case "nhl_daily" => new NhlWorkload(seed)
      case "query_mix" => new QueryMix(opt("sf-dir"), Paths.get(opt("expected")))
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    var spark: SparkSession = null
    val rounds = (1 to w.setupRounds).map { r =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = GraftSession.local(Cores, s"perfbench-$workload")
      w.setup(spark, work.resolve(s"setup$r"))
      (System.nanoTime() - t0) / 1e9
    }
    (1 until w.setupRounds).foreach(r => Workload.deleteTree(work.resolve(s"setup$r")))
    if (trace) w.prepareTraced()
    val t0 = System.nanoTime()
    w.warmUp()
    val warmUpS = (System.nanoTime() - t0) / 1e9
    Console.err.println(s"[perfbench] set-up rounds ${rounds.mkString(" ")} s, warm-up $warmUpS s")

    var attempted, failed = 0
    def attempt(label: String)(f: => Unit): Unit = {
      attempted += 1
      try f
      catch { case e: Exception =>
        failed += 1
        Console.err.println(s"[perfbench] FAILED $label: ${e.getMessage}")
      }
    }
    var gapNs = 0L
    /** Between ops, untimed: a full collection, so each op starts from
      * the same heap. */
    def gap(): Unit = {
      val t = System.nanoTime()
      System.gc()
      gapNs += System.nanoTime() - t
    }

    val n = w.opCount(opt("seconds").toInt)
    val meter = new Meter
    gap()
    for (i <- 0 until n) {
      attempt(s"op $i")(w.op(i, meter))
      meter.latencies.lift(i).foreach(l => Console.err.println(f"[perfbench] op $i $l%.3f s"))
      gap()
    }
    if (w.hasReplay) attempt("replay")(w.replay())
    Console.err.println(s"[perfbench] between-op collections ${gapNs / 1e9} s")
    val lat = meter.latencies.toSeq.sorted
    val runS = lat.sum

    val metrics: Seq[(String, Double, String)] = if (!trace) Seq(
      ("setup_s", median(rounds) + warmUpS, "s"),
      ("run_s", runS, "s"),
      ("op_p50_s", median(lat), "s"),
      ("op_tail_s", lat.last, "s"),
      ("cpu_s", meter.cpuNs / 1e9, "s"),
      ("bytes_written_mb", meter.fsBytes / 1e6, "MB"),
      ("heap_peak_mb", meter.heapPeak / 1e6, "MB"))
    else {
      val untracedS =
        if (!w.rerunnable) runS
        else {
          val again = new Meter
          for (i <- 0 until n) { attempt(s"op $i again")(w.op(i, again)); gap() }
          again.latencies.sum
        }
      val t = new Tracer(spark)
      for (i <- 0 until n) { attempt(s"traced op $i")(w.tracedOp(t, i)); gap() }
      if (w.hasReplay) attempt("traced replay")(w.tracedReplay(t))
      t.listener.drain(spark.sparkContext)
      if (!t.selfTimesConsistent) {
        failed += 1
        Console.err.println("[perfbench] FAILED span check: children outlast their op")
      }
      t.write(Paths.get(opt("out")).toAbsolutePath.resolve(s"spans-$workload-$seed.jsonl"))
      val ops = t.all.filter(s => s.parent == -1 && s.name.startsWith(w.timedOpName))
      val tracedS = ops.map(_.seconds).sum
      val cpu = ops.map(t.deepCounts(_).cpuNs).sum / 1e9
      val layer = w.layerMetrics(t) ++ Map(
        "spark.jobs" -> ops.map(t.deepCounts(_).jobs).sum.toDouble,
        "spark.busy_ratio" -> cpu / (tracedS * Cores),
        "trace.overhead_s" -> (tracedS - untracedS))
      Console.out.println(f"[perfbench] traced run_s $tracedS%.4f s, untraced run_s $untracedS%.4f s")
      LayerMetrics.map { case (name, unit) => (name, layer.getOrElse(name, 0.0), unit) }
    }
    spark.stop()

    metrics.foreach { case (name, v, unit) => Console.out.println(s"[perfbench] $name $v $unit") }
    Console.out.println(s"[perfbench] op_tail_s is the slowest of ${lat.size} ops; " +
      s"error_rate ${failed.toDouble / attempted} ($failed of $attempted)")
    val body = metrics.map { case (name, v, unit) =>
      require(!v.isNaN && !v.isInfinite, s"$name is not a number")
      s""""$name": {"value": $v, "unit": "$unit"}"""
    }.mkString(", ")
    Console.out.println(
      s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
