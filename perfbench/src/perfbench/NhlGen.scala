package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.{Locale, SplittableRandom}
import scala.collection.mutable

/** Seeded generator of raw NHL source files, shaped as FIXTURES.md
  * A1-A4, plus the row counts a correct load of them must produce.
  *
  * Sizes follow a real 32-team season: [[RegularDays]] regular-season
  * days with games per day set by the weekday ([[GamesByWeekday]]:
  * about 1,330 games, against 1,312 in an 82-game season), then four
  * playoff rounds ([[PlayoffRounds]]). The history is `seasons - 1`
  * complete seasons and the first `historyDays` days of the current
  * one; each new day continues the current season. Sizes depend on the
  * dates only, so the seed changes every value and name but no count.
  *
  * The expectations come from the generated content alone (no graft
  * call): rows per raw target, the four staging-frame counts and the
  * mart count, the last from an exact set of the mart's 21 output
  * values. Every file is a pure function of (seed, season, day), so
  * the same seed writes byte-identical inputs in any order.
  */
final class NhlGen(seed: Long, val seasons: Int, val historyDays: Int) {
  import NhlGen._
  require(seasons >= 1 && historyDays >= 1 && historyDays < RegularDays)

  private val statsByTeam = mutable.HashMap[String, mutable.ArrayBuffer[Seq[String]]]()
  private val martRows = mutable.HashSet[(Seq[String], Seq[String])]()
  private var regRows, pstRows, statRows, teamRows = 0L

  /** Cumulative staging counts: stg games, stg playoffs, stg team
    * statistics, stg teams. */
  def stagingRows: Seq[Long] = Seq(regRows, pstRows, statRows, teamRows)
  def martRowCount: Long = martRows.size.toLong

  private def year(season: Int) = FirstYear + season
  private def rng(parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) =>
      java.lang.Long.rotateLeft(h ^ (p + 0x632BE59BD9B4E019L), 27) * 0xBF58476D1CE4E5B9L))
  private def date(season: Int, day: Int): LocalDate =
    LocalDate.of(year(season), 10, 8).plusDays(day.toLong)

  private def write(root: Path, rel: String, body: String): (String, Long) = {
    val path = root.resolve(rel)
    Files.createDirectories(path.getParent)
    val b = body.getBytes(UTF_8)
    Files.write(path, b)
    (rel, b.length.toLong)
  }

  /** The history: per season its team stats, seasons and teams files,
    * then its days; every season but the last is complete, with its
    * playoffs, and the last has its first `historyDays` days. */
  def writeHistory(root: Path): Batch = {
    val current = seasons - 1
    val parts = (0 until seasons).flatMap(s => Seq(
      writeTeamStats(root, s), writeSeasonsJson(root, s), writeTeamsJson(root, s))) ++
      (0 until current).flatMap(s =>
        (0 until RegularDays).map(d => writeDay(root, s, d)) ++
          (0 until PlayoffDays).map(d => writePlayoffDay(root, s, d))) ++
      (0 until historyDays).map(d => writeDay(root, current, d))
    sum(parts)
  }

  /** Day `k` after the history: one games CSV and one REG schedule
    * JSON, continuing the current season. */
  def writeNewDay(root: Path, k: Int): Batch = {
    require(historyDays + k < RegularDays, s"day $k is past the regular season")
    writeDay(root, seasons - 1, historyDays + k)
  }

  private def sum(bs: Seq[Batch]): Batch = Batch(
    Targets.map(t => t -> bs.map(_.appended.getOrElse(t, 0L)).sum).toMap,
    bs.flatMap(_.paths), bs.map(_.bytes).sum)

  private def one(target: String, rows: Long, file: (String, Long)) =
    Batch(Map(target -> rows), Seq(file._1), file._2)

  // ---- A2: team stats with interleaved division-header rows --------
  private def writeTeamStats(root: Path, s: Int): Batch = {
    val r = rng(1, s)
    val playoff = r.ints(0, Teams.size).distinct().limit(16).toArray.toSet
    val lines = mutable.ArrayBuffer[String]()
    Teams.grouped(8).zipWithIndex.foreach { case (group, g) =>
      lines += Seq.fill(14)(Divisions(g)).mkString(",")
      group.foreach { t =>
        val i = Teams.indexOf(t)
        val w = 25 + r.nextInt(31); val l = 15 + r.nextInt(82 - w - 15 + 1)
        val otl = 82 - w - l; val pts = 2 * w + otl
        val rw = w - r.nextInt(9)
        val stats = Seq("82", w.toString, l.toString, otl.toString, pts.toString,
          dec3(pts / 164.0), (180 + r.nextInt(150)).toString,
          (180 + r.nextInt(150)).toString, fmt2(r.nextDouble() * 3 - 1.5),
          fmt2(r.nextDouble() * 0.4 - 0.2), dec3(rw * 2 / 164.0), rw.toString,
          s"$rw-$l")
        val name = fullName(t) + (if (playoff(i)) "*" else "")
        lines += (name +: stats).mkString(",")
        statsByTeam.getOrElseUpdate(name, mutable.ArrayBuffer()) += stats
        statRows += 1
      }
    }
    one("team_stats", lines.size.toLong, write(root,
      s"team_stats_csv/nhl_${year(s)}_output_teams.csv",
      lines.mkString("", "\n", "\n")))
  }

  // ---- A1 + A4: one day of games, as CSV and as REG schedule JSON ---
  private def writeDay(root: Path, s: Int, day: Int): Batch = {
    val r = rng(2, s, day)
    val dt = date(s, day)
    val order = shuffled(r, Teams.indices)
    val csv = new StringBuilder
    val n = gamesOn(dt)
    val games = (0 until n).map { g =>
      val (v, h) = (order(2 * g), order(2 * g + 1))
      val time = GameTimes(r.nextInt(GameTimes.size))
      val (vg, hg) = (r.nextInt(7), r.nextInt(7))
      val flag = if (vg != hg) "" else if (r.nextBoolean()) "OT" else "SO"
      val (vGoals, hGoals) = if (vg != hg) (vg, hg)
        else if (flag == "OT") (vg + 1, hg) else (vg, hg + 1)
      val att = 11000 + r.nextInt(9000)
      val len = s"${2 + r.nextInt(2)}:${pad2(r.nextInt(60))}"
      val note = if (r.nextInt(20) == 0) "\"Played at Stockholm, Sweden\"" else ""
      // quoted team names, some with padding the load trims away
      def q(t: Int) = "\"" + (if (r.nextInt(4) == 0) " " else "") + fullName(Teams(t)) + "\""
      csv ++= s"$dt,$time,${q(v)},$vGoals,${q(h)},$hGoals,$flag,$att,$len,$note\n"
      val game = Seq(dt.toString, time, fullName(Teams(v)), vGoals.toString,
        fullName(Teams(h)), hGoals.toString, att.toString, len)
      for (team <- Seq(v, h); st <- statsByTeam.getOrElse(fullName(Teams(team)), Nil))
        martRows += ((game, st))
      gameJson(r, s, day * 100 + g, dt, Teams(v), Teams(h), vGoals, hGoals)
    }
    regRows += 1
    val files = Seq(
      write(root, s"games_csv/nhl_${year(s)}_games_$dt.csv", csv.toString),
      write(root, s"reg_schedules_json/nhl_api_REG_extract_schedule_$dt.json",
        scheduleJson(s, "REG", Some(games))))
    Batch(Map("regular_season" -> n.toLong, "nhl_api_reg_schedules" -> 1L),
      files.map(_._1), files.map(_._2).sum)
  }

  /** PST schedule day; the first playoff day of the first season is a
    * payload without a `games` key, which the load filters out. */
  private def writePlayoffDay(root: Path, s: Int, day: Int): Batch = {
    val r = rng(3, s, day)
    val dt = date(s, RegularDays + day)
    val empty = s == 0 && day == 0
    val games = if (empty) None else Some {
      val order = shuffled(r, Teams.indices)
      (0 until playoffGamesOn(day)).map(g => gameJson(r, s, 90000 + day * 10 + g, dt,
        Teams(order(2 * g)), Teams(order(2 * g + 1)), r.nextInt(6), r.nextInt(6)))
    }
    val rows = if (empty) 0L else 1L
    pstRows += rows
    one("nhl_api_playoff_schedules", rows, write(root,
      s"pst_schedules_json/nhl_api_PST_extract_schedule_$dt.json",
      scheduleJson(s, "PST", games)))
  }

  // ---- A3 + seasons --------------------------------------------------
  private def writeSeasonsJson(root: Path, s: Int): Batch = {
    val seasonsArr = (0 to s).map(i =>
      s"""{"id": "${uuid(4, i)}", "year": ${year(i)}, "type": {"code": "REG"}}""")
    one("nhl_api_seasons", 1L, write(root,
      s"seasons_json/nhl_api_extract_seasons_${year(s)}.json",
      s"""{\n  "league": $League,\n  "seasons": [\n    ${seasonsArr.mkString(",\n    ")}\n  ]\n}\n"""))
  }

  private def writeTeamsJson(root: Path, s: Int): Batch = {
    val teams = Teams.indices.map { i =>
      val (market, name, alias) = Teams(i)
      s"""{"id": "${uuid(5, i)}", "name": "$name", "market": "$market", "alias": "$alias"}"""
    }
    teamRows += Teams.size
    one("nhl_api_teams", 1L, write(root,
      s"teams_json/nhl_api_extract_teams_${year(s)}.json",
      s"""{\n  "league": $League,\n  "teams": [\n    ${teams.mkString(",\n    ")}\n  ]\n}\n"""))
  }

  private def gameJson(r: SplittableRandom, s: Int, n: Int, dt: LocalDate,
      away: Team, home: Team, ap: Int, hp: Int): String = {
    def side(t: Team) =
      s"""{"id": "${uuid(5, Teams.indexOf(t))}", "name": "${t._2}", "alias": "${t._3}"}"""
    s"""{"id": "${uuid(6, s * 1000000L + n)}", "status": "closed", """ +
      s""""scheduled": "${dt}T0${r.nextInt(4)}:00:00Z", """ +
      s""""home_points": $hp, "away_points": $ap, "home": ${side(home)}, """ +
      s""""away": ${side(away)}, "venue": {"name": "${home._1} Arena", "city": "${home._1}"}}"""
  }

  private def scheduleJson(s: Int, kind: String, games: Option[Seq[String]]): String = {
    val head = s"""{\n  "league": $League,\n  "season": {"id": "${uuid(7, s)}", "year": ${year(s)}, "type": "$kind"}"""
    games match {
      case Some(gs) => head + s""",\n  "games": [\n    ${gs.mkString(",\n    ")}\n  ]\n}\n"""
      case None => head + "\n}\n"
    }
  }

  private def uuid(kind: Long, n: Long): String = {
    val r = rng(kind, n)
    val hex = (0 until 32).map(_ => "0123456789abcdef".charAt(r.nextInt(16))).mkString
    s"${hex.take(8)}-${hex.slice(8, 12)}-${hex.slice(12, 16)}-${hex.slice(16, 20)}-${hex.drop(20)}"
  }

  private def shuffled(r: SplittableRandom, xs: Seq[Int]): IndexedSeq[Int] = {
    val a = xs.toArray
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }
}

object NhlGen {
  type Team = (String, String, String)

  /** A batch of generated files: rows each raw target gains from it,
    * and the files' paths relative to the input root. */
  final case class Batch(appended: Map[String, Long], paths: Seq[String], bytes: Long) {
    def expected: Seq[Long] = Targets.map(appended.getOrElse(_, 0L))
  }

  /** Raw targets in `Pipeline.run` order. */
  val Targets: Seq[String] = Seq("regular_season", "team_stats",
    "nhl_api_reg_schedules", "nhl_api_playoff_schedules",
    "nhl_api_seasons", "nhl_api_teams")

  val FirstYear = 2010

  /** Regular-season days, opening night on October 8: the span of a
    * real season, early October to mid April. */
  val RegularDays = 186

  /** Games per regular-season day, Monday to Sunday: 50 a week, heavy
    * on Tuesday, Thursday and Saturday as in a real schedule. */
  val GamesByWeekday: IndexedSeq[Int] = IndexedSeq(5, 9, 4, 10, 5, 13, 4)
  def gamesOn(dt: LocalDate): Int = GamesByWeekday(dt.getDayOfWeek.getValue - 1)

  /** Playoff rounds as (days, games per day): 16 series shrinking to
    * one, 102 games over 56 days (a real postseason has 82 to 105). */
  val PlayoffRounds: Seq[(Int, Int)] = Seq(16 -> 3, 14 -> 2, 12 -> 1, 14 -> 1)
  val PlayoffDays: Int = PlayoffRounds.map(_._1).sum
  def playoffGamesOn(day: Int): Int = {
    val ends = PlayoffRounds.scanLeft(0)(_ + _._1).tail
    PlayoffRounds(ends.indexWhere(day < _))._2
  }
  val GameTimes: Seq[String] = Seq("19:00", "19:30", "20:00", "22:00", "13:00")
  val Divisions: Seq[String] = Seq("Atlantic Division", "Metropolitan Division",
    "Central Division", "Pacific Division")
  val League = """{"id": "fd560107-a85b-4388-ab0d-655ad022aff7", "name": "NHL", "alias": "NHL"}"""

  val Teams: IndexedSeq[Team] = IndexedSeq(
    ("Boston", "Bruins", "BOS"), ("Buffalo", "Sabres", "BUF"),
    ("Detroit", "Red Wings", "DET"), ("Florida", "Panthers", "FLA"),
    ("Montreal", "Canadiens", "MTL"), ("Ottawa", "Senators", "OTT"),
    ("Tampa Bay", "Lightning", "TBL"), ("Toronto", "Maple Leafs", "TOR"),
    ("Carolina", "Hurricanes", "CAR"), ("Columbus", "Blue Jackets", "CBJ"),
    ("New Jersey", "Devils", "NJD"), ("New York", "Islanders", "NYI"),
    ("New York", "Rangers", "NYR"), ("Philadelphia", "Flyers", "PHI"),
    ("Pittsburgh", "Penguins", "PIT"), ("Washington", "Capitals", "WSH"),
    ("Chicago", "Blackhawks", "CHI"), ("Colorado", "Avalanche", "COL"),
    ("Dallas", "Stars", "DAL"), ("Minnesota", "Wild", "MIN"),
    ("Nashville", "Predators", "NSH"), ("St. Louis", "Blues", "STL"),
    ("Utah", "Hockey Club", "UTA"), ("Winnipeg", "Jets", "WPG"),
    ("Anaheim", "Ducks", "ANA"), ("Calgary", "Flames", "CGY"),
    ("Edmonton", "Oilers", "EDM"), ("Los Angeles", "Kings", "LAK"),
    ("San Jose", "Sharks", "SJS"), ("Seattle", "Kraken", "SEA"),
    ("Vancouver", "Canucks", "VAN"), ("Vegas", "Golden Knights", "VGK"))

  def fullName(t: Team): String = s"${t._1} ${t._2}"
  private def pad2(i: Int) = f"$i%02d"
  private def fmt2(d: Double) = String.format(Locale.ROOT, "%.2f", Double.box(d))
  /** Hockey-reference's ".652" style: three decimals, no leading 0. */
  private def dec3(d: Double) =
    String.format(Locale.ROOT, "%.3f", Double.box(d)).stripPrefix("0")
}
