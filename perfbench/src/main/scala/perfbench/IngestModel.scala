package perfbench

import scala.collection.mutable

/** A row the fact table is expected to hold: the game, and the tracked
  * user whose archive landed it first.
  */
final case class FactRow(username: String, game: Game)

/** Ground truth for the ingest: a plain-Scala replay of the incremental
  * semantics `IngestJob` documents (SURVEY.md §2.10), fed the same
  * archives. Per run and per user, in CSV order: archives not yet
  * processed are fetched; failing ones log an error row and stay pending;
  * games whose `game_url` is not yet stored land under that user; every
  * fetched archive gets a ledger row unless the same (archive, count) is
  * already there; the watermark advances to the largest `end_time` seen.
  */
final class IngestModel(world: ArchiveWorld) {

  val processed: mutable.Map[String, Vector[String]] = mutable.Map.empty
  val watermark: mutable.Map[String, Long] = mutable.Map.empty
  val fact: mutable.LinkedHashMap[String, FactRow] = mutable.LinkedHashMap.empty
  val ledger: mutable.ArrayBuffer[(String, String, Long)] = mutable.ArrayBuffer.empty
  /** (run id, user, archive url, http status) per failed archive fetch. */
  val errors: mutable.ArrayBuffer[(String, String, String, String)] =
    mutable.ArrayBuffer.empty

  /** `StateStore.unmarkLatest`: pop each user's latest processed archive. */
  def unmarkLatest(): Unit =
    processed.keys.toSeq.foreach { u =>
      val p = processed(u)
      if (p.nonEmpty) processed(u) = p.sorted.init
    }

  /** Replay one `IngestJob.run` over all users; returns new fact rows. */
  def run(runId: String): Int = {
    val before = fact.size
    world.users.foreach { user =>
      val prior = processed.getOrElse(user, Vector.empty)
      val todo = world.archiveUrls(user).filterNot(prior.toSet)
      if (todo.nonEmpty) {
        val failed = todo.filter(world.failing.contains)
        failed.foreach(u => errors += ((runId, user, u, world.failing(u).toString)))
        val ok = todo.sorted.filterNot(failed.toSet)
        ok.flatMap(world.gamesAt).foreach { g =>
          if (!fact.contains(g.url)) fact(g.url) = FactRow(user, g)
        }
        ok.foreach { url =>
          val gs = world.gamesAt(url)
          val n = gs.size.toLong
          if (!ledger.exists(r => r._1 == user && r._2 == url && r._3 == n))
            ledger += ((user, url, n))
          watermark(user) = math.max(watermark.getOrElse(user, 0L),
            if (gs.isEmpty) 0L else gs.map(_.endTime).max)
        }
        processed(user) = prior ++ ok.filterNot(prior.toSet)
      }
    }
    fact.size - before
  }
}
