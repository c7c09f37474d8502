package perfbench

import java.nio.file.{Files, Path}
import graft.nhl.{Ingest, Ledger, Mart, Pipeline, Quality, Staging}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** What one NHL op produced: rows appended per raw target (in
  * [[NhlGen.Targets]] order), rows of the four staging frames, and
  * mart rows. */
final case class NhlOut(appended: Seq[Long], staging: Seq[Long], mart: Long)

/** `nhl_daily`, the warehouse workload over generated raw NHL files.
  *
  * Set-up cold-loads the history; each op stages one new day, then runs
  * `Pipeline.run` on the loaded warehouse and materializes the four
  * staging frames and the mart through the `noop` sink. After the last
  * day a replay with no new files must append nothing.
  *
  * The traced loop cannot open spans inside `Pipeline.run`, so it makes
  * the same public stage calls itself, in `Pipeline.run`'s order, and
  * must reach the same counts as the untraced `Pipeline.run` ops. Every
  * run checks that parity once: the warm-up op is that composition, on
  * a copy of the warehouse and inputs as set-up left them, over the
  * day untraced op 0 then loads with `Pipeline.run`.
  */
final class NhlWorkload(seed: Long) extends Workload {
  import NhlWorkload._

  private var spark: SparkSession = _
  private var dir: Path = _
  private var gen: NhlGen = _
  /** What the warm-up's stage composition gave on op 0's day. */
  private var warm: NhlOut = _
  /** Per untraced op: the staged day and the output it
    * must produce, which its `Pipeline.run` output was checked against. */
  private val staged = mutable.ArrayBuffer[NhlGen.Batch]()
  private val expected = mutable.ArrayBuffer[NhlOut]()

  val timedOpName = "nhl.op"
  /** Two rounds: a third adds about 12 s to every run, which the
    * benchmark's time budget cannot spare. */
  def setupRounds: Int = 2

  def opCount(seconds: Int): Int = math.max(1, math.round(seconds / OpSeconds).toInt)

  private def input = dir.resolve("input")
  private def tracedInput = dir.resolve("input_traced")
  private def parityInput = dir.resolve("input_parity")
  private def warehouse = dir.resolve("wh")
  private def tracedWarehouse = dir.resolve("wh_traced")
  private def parityWarehouse = dir.resolve("wh_parity")

  private def layout(in: Path, wh: Path) = Pipeline.Layout(
    in.resolve("games_csv").toString, in.resolve("team_stats_csv").toString,
    in.resolve("reg_schedules_json").toString, in.resolve("pst_schedules_json").toString,
    in.resolve("seasons_json").toString, in.resolve("teams_json").toString, wh.toString)

  private def expectNow(b: NhlGen.Batch) = NhlOut(b.expected, gen.stagingRows, gen.martRowCount)

  def setup(s: SparkSession, d: Path): Unit = {
    spark = s; dir = d
    gen = new NhlGen(seed, Seasons, HistoryDays)
    val history = gen.writeHistory(input)
    Console.err.println(s"[perfbench] nhl history: ${history.paths.size} files, " +
      s"${history.bytes} bytes, ${history.expected.head} games, ${gen.martRowCount} mart rows")
    checked(warehouse, expectNow(history), "preload")(pipelineOp(input, warehouse))
  }

  /** The stage composition on a copy of the set-up state, over day 0.
    * Its output is checked when untraced op 0 has loaded the same day. */
  def warmUp(): Unit = {
    copyTree(input, parityInput)
    copyTree(warehouse, parityWarehouse)
    stage(0).paths.foreach(p => copyFile(input.resolve(p), parityInput.resolve(p)))
    warm = composed(parityInput, parityWarehouse, NoSpans)
  }

  /** The traced loop continues from a copy of the warehouse and inputs
    * as set-up left them. */
  override def prepareTraced(): Unit = {
    copyTree(input, tracedInput)
    copyTree(warehouse, tracedWarehouse)
  }

  /** Stages day `i` (once) and records what op `i` must produce. */
  private def stage(i: Int): NhlGen.Batch = {
    if (staged.size == i) {
      val b = gen.writeNewDay(input, i)
      staged += b
      expected += expectNow(b)
    }
    staged(i)
  }

  def op(i: Int, meter: Meter): Unit = {
    stage(i)
    val got = checked(warehouse, expected(i), s"op $i")(meter(pipelineOp(input, warehouse)))
    if (i == 0 && warm != got)
      throw Mismatch(s"parity: stage composition gave $warm, Pipeline.run $got")
  }

  override def hasReplay: Boolean = true

  /** Replay: no new files, so nothing may be appended and every count
    * must stay where the last day left it. */
  override def replay(): Unit =
    checked(warehouse, replayWant, "replay")(pipelineOp(input, warehouse))

  private def replayWant: NhlOut = {
    val last = expected.last
    last.copy(appended = last.appended.map(_ => 0L))
  }

  /** `Pipeline.run` plus materialization: rows of the four staging
    * frames and of the mart. */
  private def pipelineOp(in: Path, wh: Path): (Seq[Long], Long) = {
    val r = Pipeline.run(spark, layout(in, wh))
    val staging = Seq(r.stgGames, r.stgPlayoffs, r.stgTeamStatistics, r.stgTeams)
      .map(Workload.rowsThroughNoop)
    (staging, Workload.rowsThroughNoop(r.seasonalMetricsAgg))
  }

  /** Runs an untraced op and checks it; rows appended per target are
    * read from the parquet footers before and after, outside the op. */
  private def checked(wh: Path, want: NhlOut, label: String)(f: => (Seq[Long], Long)): NhlOut = {
    val before = targetRows(wh, Ledger.dataPath)
    val (staging, mart) = f
    val got = NhlOut(targetRows(wh, Ledger.dataPath).zip(before).map(p => p._1 - p._2), staging, mart)
    if (got != want) throw Mismatch(s"$label: got $got, want $want")
    got
  }

  /** `Pipeline.run`'s stage calls, one span each. */
  private def composed(in: Path, wh: Path, sp: Spans): NhlOut = {
    val l = layout(in, wh)
    def load(dir: String, read: (SparkSession, String) => DataFrame,
        target: String): (Long, DataFrame) = {
      require(Files.isDirectory(java.nio.file.Paths.get(dir)), s"missing input dir: $dir")
      val path = s"${l.warehouseDir}/raw_$target"
      val n = sp(s"ledger.copy:$target")(Ledger.copyInto(spark, read(spark, dir), path))
      val df = sp(s"ledger.read_target:$target")(Ledger.readTarget(spark, path))
        .getOrElse(sys.error(s"no target after load: $path"))
      (n, df)
    }
    val loads = Seq(
      load(l.gamesCsvDir, Ingest.readGamesCsv, "regular_season"),
      load(l.teamStatsCsvDir, Ingest.readTeamStatsCsv, "team_stats"),
      load(l.schedulesJsonDir, Ingest.readScheduleJson, "nhl_api_reg_schedules"),
      load(l.playoffsJsonDir, Ingest.readScheduleJson, "nhl_api_playoff_schedules"),
      load(l.seasonsJsonDir, Ingest.readSeasonsJson, "nhl_api_seasons"),
      load(l.teamsJsonDir, Ingest.readTeamsJson, "nhl_api_teams"))
    val Seq(games, teamStats, schedules, playoffs, _, teams) = loads.map(_._2)
    val stg = sp("staging.build")(Seq(Staging.stgGames(schedules), Staging.stgGames(playoffs),
      Staging.stgTeamStatistics(teamStats), Staging.stgTeams(teams)))
    sp("quality.gate")(Quality.requireNoNulls(stg(2), Seq("TEAM")))
    val mart = sp("mart.build")(Mart.seasonalMetricsAgg(games, stg(2)))
    val staging = sp("staging.materialize")(stg.map(Workload.rowsThroughNoop))
    val martRows = sp("mart.materialize")(Workload.rowsThroughNoop(mart))
    NhlOut(loads.map(_._1), staging, martRows)
  }

  private val tracedOuts = mutable.ArrayBuffer[NhlOut]()
  private val filesLoaded, filesSkipped = mutable.ArrayBuffer[Long]()

  def tracedOp(t: Tracer, i: Int): Unit = {
    staged(i).paths.foreach(p => copyFile(input.resolve(p), tracedInput.resolve(p)))
    tracedRun(t, timedOpName, expected(i), s"op $i")
  }

  override def tracedReplay(t: Tracer): Unit = tracedRun(t, "nhl.replay", replayWant, "replay")

  /** A traced op must reach what the untraced `Pipeline.run` op on the
    * same inputs reached. Ledger sizes are read outside the op span. */
  private def tracedRun(t: Tracer, name: String, want: NhlOut, label: String): Unit = {
    val before = targetRows(tracedWarehouse, Ledger.ledgerPath)
    val (out, _) = t.op(name)(composed(tracedInput, tracedWarehouse, t))
    if (out != want) throw Mismatch(s"parity: traced $label gave $out, Pipeline.run $want")
    if (name == timedOpName) {
      tracedOuts += out
      filesLoaded += targetRows(tracedWarehouse, Ledger.ledgerPath).zip(before)
        .map(p => p._1 - p._2).sum
      filesSkipped += before.sum
    }
  }

  def layerMetrics(t: Tracer): Map[String, Double] = {
    val ops = t.all.filter(_.name == timedOpName)
    def kids(prefix: String) = ops.flatMap(t.children).filter(_.name.startsWith(prefix))
    def secs(prefix: String) = kids(prefix).map(_.seconds).sum
    def deep(prefix: String)(f: Counts => Long) =
      kids(prefix).map(s => f(t.deepCounts(s))).sum.toDouble
    val copies = kids("ledger.copy:")
    val appended = tracedOuts.map(_.appended.sum).sum.toDouble
    val recordsRead = deep("ledger.copy:")(_.records)
    Map(
      "nhl.ledger.copy_s" -> secs("ledger.copy:"),
      "nhl.ledger.records_read" -> recordsRead,
      "nhl.ledger.rows_appended" -> appended,
      "nhl.ledger.append_ratio" -> (if (recordsRead > 0) appended / recordsRead else 0.0),
      "nhl.ledger.files_loaded" -> filesLoaded.sum.toDouble,
      "nhl.ledger.files_skipped" -> filesSkipped.sum.toDouble,
      "nhl.ledger.fs_ops" -> copies.map(_.fsOps).sum.toDouble,
      "nhl.ledger.jobs" -> deep("ledger.copy:")(_.jobs),
      "nhl.ledger.cpu_s" -> deep("ledger.copy:")(_.cpuNs) / 1e9,
      "nhl.ledger.bytes_written" -> copies.map(_.fsBytes).sum.toDouble,
      "nhl.quality.gate_s" -> secs("quality.gate"),
      "nhl.quality.records_read" -> deep("quality.gate")(_.records),
      "nhl.staging.materialize_s" -> secs("staging.materialize"),
      "nhl.staging.rows_out" -> tracedOuts.map(_.staging.sum).sum.toDouble,
      "nhl.mart.materialize_s" -> secs("mart.materialize"),
      "nhl.mart.rows_out" -> tracedOuts.map(_.mart).sum.toDouble,
      "nhl.mart.shuffle_bytes" -> deep("mart.materialize")(_.shuffleBytes),
      "nhl.mart.cpu_s" -> deep("mart.materialize")(_.cpuNs) / 1e9,
      "nhl.pipeline.self_s" -> ops.map(t.selfSeconds).sum,
      "nhl.pipeline.replay_s" -> t.all.filter(_.name == "nhl.replay").map(_.seconds).sum)
  }

  /** Rows under `part(target)` for each raw target of `wh`, from the
    * parquet footers: data rows, or files recorded in the load ledger. */
  private def targetRows(wh: Path, part: String => String): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    NhlGen.Targets.map { target =>
      val p = new org.apache.hadoop.fs.Path(part(s"$wh/raw_$target"))
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
        try r.getRecordCount finally r.close()
      }.sum
    }
  }

  private def copyFile(from: Path, to: Path): Unit = {
    Files.createDirectories(to.getParent)
    Files.copy(from, to)
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.filter(Files.isRegularFile(_)).forEach(f => copyFile(f, to.resolve(from.relativize(f))))
    finally s.close()
  }
}

object NhlWorkload {
  /** Last season complete, the current one at its midpoint (January). */
  val Seasons = 2
  val HistoryDays = NhlGen.RegularDays / 2
  /** Seconds one op takes on the reference host (4 cores): the op count
    * of a run is its length over this, fixed so every commit does the
    * same work. */
  val OpSeconds = 5.0
}
