package perfbench

import java.time.{LocalDate, YearMonth, ZoneOffset}

import scala.collection.mutable
import scala.util.Random

/** One side of a generated game. */
final case class Side(username: String, rating: Int, result: String)

/** One generated game, in the chess.com monthly-archive shape. */
final case class Game(url: String, timeControl: String, endTime: Long,
                      white: Side, black: Side, result: String, eco: String) {

  def pgn: String =
    s"""[Event "Live Chess"]
       |[Site "Chess.com"]
       |[White "${white.username}"]
       |[Black "${black.username}"]
       |[Result "$result"]
       |[ECO "$eco"]
       |
       |1. e4 e5 2. Nf3 Nc6 3. Bb5 a6 $result""".stripMargin

  def json: String = {
    def side(s: Side) =
      s"""{"username":${Json.str(s.username)},"rating":${s.rating},"result":${Json.str(s.result)}}"""
    s"""{"url":${Json.str(url)},"time_control":${Json.str(timeControl)},""" +
      s""""end_time":$endTime,"pgn":${Json.str(pgn)},""" +
      s""""white":${side(white)},"black":${side(black)}}"""
  }

  def date: LocalDate =
    java.time.Instant.ofEpochSecond(endTime).atZone(ZoneOffset.UTC).toLocalDate
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}

/** Size of a generated world. */
final case class WorldSize(users: Int, months: Int, gamesPerMonth: Int)

/** Seeded in-process stand-in for the chess.com archive API.
  *
  * Every tracked user has one monthly archive per month; the last one is
  * the user's open month. The generator covers the input properties the
  * ingest and the dashboard depend on:
  *  - canonical `[Result]` and `[ECO]` PGN headers;
  *  - all five time-control buckets (bullet, blitz, rapid, daily and an
  *    unparseable control that lands in `unknown`);
  *  - opponent ratings across every 200-point band from 0 to 2999;
  *  - duplicate `game_url`s across archives: games between two tracked
  *    users sit in both users' archives, and a game at a month boundary is
  *    listed again in the same user's next month;
  *  - a small seeded share of closed months that answer with a
  *    non-retryable status on every fetch.
  *
  * `advanceDay` is the daily increment: a few games in every user's open
  * month, and a new month for a seeded quarter of the users. All payloads
  * are rendered deterministically, so one seed gives byte-identical pages.
  */
final class ArchiveWorld(seed: Long, size: WorldSize) {
  import ArchiveWorld._

  val baseUrl = "https://api.chess.com"
  private val rng = new Random(seed)
  private var nextGameId = 100000L + (seed & 0xffff) * 10000000L

  val users: Vector[String] =
    (0 until size.users).map(i => f"pb_user_$i%02d").toVector

  /** user -> month -> games of that archive, in listing order. */
  private val archives =
    mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[YearMonth, mutable.ArrayBuffer[Game]]]
  /** archive url -> the non-retryable status it always answers with. */
  val failing: mutable.LinkedHashMap[String, Int] = mutable.LinkedHashMap.empty
  private val rendered = mutable.HashMap.empty[String, Either[Int, String]]
  private val dirty = mutable.LinkedHashSet.empty[String]
  private val ratings = users.map(u => u -> (600 + rng.nextInt(1800))).toMap

  def listUrl(user: String): String = s"$baseUrl/pub/player/$user/games/archives"
  def archiveUrl(user: String, ym: YearMonth): String =
    f"$baseUrl/pub/player/$user/games/${ym.getYear}%04d/${ym.getMonthValue}%02d"

  def months(user: String): Seq[YearMonth] = archives(user).keys.toSeq
  def openMonth(user: String): YearMonth = archives(user).keys.last
  def archiveUrls(user: String): Seq[String] = months(user).map(archiveUrl(user, _))
  def games(user: String, ym: YearMonth): Seq[Game] = archives(user)(ym).toSeq

  def gamesAt(url: String): Seq[Game] = {
    val (user, ym) = parseArchive(url)
    games(user, ym)
  }

  private def parseArchive(url: String): (String, YearMonth) = {
    val parts = url.stripPrefix(s"$baseUrl/pub/player/").split("/")
    (parts(0), YearMonth.of(parts(2).toInt, parts(3).toInt))
  }

  // ------------------------------------------------------------ backfill

  locally {
    users.foreach(u => archives(u) = mutable.LinkedHashMap.empty)
    val first = YearMonth.of(2023, 1)
    for (m <- 0 until size.months; ym = first.plusMonths(m.toLong)) {
      users.foreach(u => archives(u)(ym) = mutable.ArrayBuffer.empty)
      // secs since month start, kept below day 21 so daily additions fit
      users.foreach { u =>
        val n = size.gamesPerMonth / 2 + rng.nextInt(size.gamesPerMonth + 1)
        (0 until n).foreach { _ =>
          val t = monthStart(ym) + rng.nextInt(20 * Day)
          val shared = users.size > 1 && rng.nextDouble() < SharedShare
          val opp =
            if (shared) users.filterNot(_ == u)(rng.nextInt(users.size - 1))
            else OpponentPool(rng.nextInt(OpponentPool.size))
          val g = newGame(u, opp, t)
          archives(u)(ym) += g
          if (shared) archives(opp)(ym) += g
        }
      }
    }
    // month-boundary duplicates: the last game of a closed month is listed
    // again at the head of the user's next month
    for (u <- users; Seq(a, b) <- archives(u).keys.toSeq.sliding(2)
         if rng.nextDouble() < BoundaryDupShare) {
      val last = archives(u)(a).maxBy(_.endTime)
      archives(u)(b).prepend(last)
    }
    // persistent non-retryable failures on a few closed months
    for (u <- users; ym <- archives(u).keys.toSeq.init
         if rng.nextDouble() < FailingShare)
      failing(archiveUrl(u, ym)) = NonRetryable(rng.nextInt(NonRetryable.size))
    users.foreach { u =>
      dirty += listUrl(u)
      archiveUrls(u).foreach(dirty += _)
    }
  }

  private def newGame(user: String, opp: String, t: Long): Game = {
    nextGameId += 1 + rng.nextInt(7)
    val userWhite = rng.nextBoolean()
    val oppRating = ratings.getOrElse(opp, rng.nextInt(3000))
    val me = ratings(user) + rng.nextInt(101) - 50
    val result = Results(rng.nextInt(Results.size))
    val (wRes, bRes) = result match {
      case "1-0" => ("win", SideLoss(rng.nextInt(SideLoss.size)))
      case "0-1" => (SideLoss(rng.nextInt(SideLoss.size)), "win")
      case _     => val d = SideDraw(rng.nextInt(SideDraw.size)); (d, d)
    }
    val (w, b) =
      if (userWhite) (Side(user, me, wRes), Side(opp, oppRating, bRes))
      else (Side(opp, oppRating, wRes), Side(user, me, bRes))
    Game(s"https://www.chess.com/game/live/$nextGameId",
      TimeControls(rng.nextInt(TimeControls.size)), t, w, b, result,
      Ecos(rng.nextInt(Ecos.size)))
  }

  // --------------------------------------------------------------- daily

  /** One day of play: a few games in every open month; a seeded quarter
    * of the users open a new month. Returns the number of games added.
    */
  def advanceDay(): Int = {
    var added = 0
    val opening = rng.shuffle(users).take(math.max(1, users.size / 4)).toSet
    users.foreach { u =>
      if (opening(u)) {
        val ym = openMonth(u).plusMonths(1)
        archives(u)(ym) = mutable.ArrayBuffer.empty
        dirty += listUrl(u)
      }
      val ym = openMonth(u)
      val buf = archives(u)(ym)
      var t = if (buf.isEmpty) monthStart(ym) + Day else buf.map(_.endTime).max
      (0 until 2 + rng.nextInt(5)).foreach { _ =>
        t += 60 + rng.nextInt(3600)
        buf += newGame(u, OpponentPool(rng.nextInt(OpponentPool.size)), t)
        added += 1
      }
      dirty += archiveUrl(u, ym)
    }
    added
  }

  // ------------------------------------------------------------- payloads

  /** The endpoint as of now: url -> body (or the failing status). */
  def pages: Map[String, Either[Int, String]] = {
    dirty.foreach { url =>
      rendered(url) =
        if (url.endsWith("/archives")) {
          val user = url.stripPrefix(s"$baseUrl/pub/player/").takeWhile(_ != '/')
          Right(archiveUrls(user).map(Json.str).mkString("""{"archives":[""", ",", "]}"))
        } else failing.get(url) match {
          case Some(status) => Left(status)
          case None =>
            Right(gamesAt(url).map(_.json).mkString("""{"games":[""", ",", "]}"))
        }
    }
    dirty.clear()
    rendered.toMap
  }
}

object ArchiveWorld {
  val Day: Int = 86400
  val SharedShare = 0.08
  val BoundaryDupShare = 0.3
  val FailingShare = 0.06
  val NonRetryable: Vector[Int] = Vector(403, 404, 410)

  def monthStart(ym: YearMonth): Long =
    ym.atDay(1).atStartOfDay(ZoneOffset.UTC).toEpochSecond

  val OpponentPool: Vector[String] =
    (0 until 30).map(i => f"opp_$i%02d").toVector
  /** bullet, blitz, rapid, daily, and one that buckets as `unknown`. */
  val TimeControls: Vector[String] =
    Vector("60", "120+1", "180", "300+5", "600", "900+10", "1/86400",
           "1/259200", "-")
  val Results: Vector[String] = Vector("1-0", "0-1", "1/2-1/2")
  val SideLoss: Vector[String] =
    Vector("checkmated", "resigned", "timeout", "abandoned")
  val SideDraw: Vector[String] =
    Vector("agreed", "repetition", "stalemate", "insufficient")
  val Ecos: Vector[String] =
    Vector("A00", "A04", "A40", "A45", "B00", "B01", "B10", "B20", "B40",
           "B90", "C00", "C20", "C42", "C50", "C60", "D00", "D02", "D30",
           "E00", "E60")
}
