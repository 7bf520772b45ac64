package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ArchiveGenSpec extends AnyFunSuite {

  private val size = WorldSize(users = 4, months = 6, gamesPerMonth = 20)

  private def days(w: ArchiveWorld, n: Int): Seq[Map[String, Either[Int, String]]] =
    w.pages +: (1 to n).map { _ => w.advanceDay(); w.pages }

  test("the same seed gives byte-identical payloads, day after day") {
    val a = days(new ArchiveWorld(7L, size), 3)
    val b = days(new ArchiveWorld(7L, size), 3)
    assert(a == b)
    assert(days(new ArchiveWorld(8L, size), 0).head != a.head)
  }

  test("payloads cover the input properties the pipeline depends on") {
    val w = new ArchiveWorld(3L, size)
    val games = for (u <- w.users; ym <- w.months(u); g <- w.games(u, ym)) yield g
    assert(games.map(g => Derived.bucket(g.timeControl)).toSet ==
      Set("bullet", "blitz", "rapid", "daily", "unknown"))
    val bands = games.flatMap(g => Seq(g.white.rating, g.black.rating))
      .filter(_ < 3000).map(Derived.band).toSet
    assert((0 until 3000 by 200).map(Derived.band).toSet.subsetOf(bands))
    assert(games.forall(g => g.pgn.contains(s"""[Result "${g.result}"]""") &&
                             g.pgn.contains("[ECO ")))
    // the same game_url in more than one archive
    assert(games.size > games.map(_.url).distinct.size)
    // failing archives answer with a non-retryable status, and are closed months
    assert(w.failing.nonEmpty)
    w.failing.foreach { case (url, status) =>
      assert(w.pages(url) == Left(status))
      assert(!graft.etl.Fetcher.RetryableStatuses.contains(status))
    }
  }

  test("a daily increment adds games to every open month and opens some months") {
    val w = new ArchiveWorld(5L, size)
    val before = w.users.map(u => u -> w.months(u).size).toMap
    val added = w.advanceDay()
    assert(added >= 2 * w.users.size)
    val opened = w.users.count(u => w.months(u).size == before(u) + 1)
    assert(opened == size.users / 4)
  }
}
