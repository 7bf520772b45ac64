package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import scala.jdk.CollectionConverters._

/** Watermark/checkpoint state (SURVEY.md §2.1 S5, §2.2 K5, §2.10).
  *
  * Mirrors the reference's `state.json`: per-user `last_end_time` high
  * watermark plus the processed archives. The reference saves it after
  * EVERY archive (`fetch_and_post.py:286-291,409-413`); [[IngestJob]]
  * saves it once per run, after that run's games and ledger rows are
  * written. The recovery is the same: every per-archive save followed
  * writes the run had already made, so a crash before the one save
  * re-processes the same archives, which the games and ledger dedups
  * absorb. Writes are atomic (temp file + rename) so a crash never leaves a
  * truncated state file. In a streaming deployment this role is played by
  * the Structured Streaming checkpoint; the explicit store keeps batch
  * runs resumable without one.
  */
final class StateStore(path: String) {
  private val mapper = new ObjectMapper()

  /** S5: load state; `{}` on missing or corrupt file (the reference's
    * defensive default).
    */
  def load(): Map[String, UserState] =
    try {
      val p = Paths.get(path)
      if (!Files.exists(p)) Map.empty
      else {
        val root = mapper.readTree(Files.readString(p))
        root.properties().asScala.map { e =>
          val v = e.getValue
          val archives = v.path("processed_archives")
          e.getKey -> UserState(
            v.path("last_end_time").asLong(0L),
            (0 until archives.size()).map(archives.get(_).asText()).toVector)
        }.toMap
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** K5: atomic save; processed archives sorted for a stable file (O2). */
  def save(state: Map[String, UserState]): Unit = {
    val root = mapper.createObjectNode()
    state.toSeq.sortBy(_._1).foreach { case (user, st) =>
      val u: ObjectNode = root.putObject(user)
      u.put("last_end_time", st.lastEndTime)
      val arr = u.putArray("processed_archives")
      st.processedArchives.sorted.foreach(arr.add)
    }
    val tmp: Path = Paths.get(path + ".tmp")
    Files.createDirectories(tmp.toAbsolutePath.getParent)
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(root).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE,
               StandardCopyOption.REPLACE_EXISTING)
  }

  /** The CI wrapper's reprocess-latest policy (`fetch.yml:93-129`): pop the
    * last processed archive per user so the open month is re-fetched next
    * run; dedup makes the re-processing idempotent.
    */
  def unmarkLatest(state: Map[String, UserState]): Map[String, UserState] =
    state.map { case (u, st) =>
      u -> st.copy(processedArchives =
        if (st.processedArchives.isEmpty) st.processedArchives
        else st.processedArchives.sorted.init)
    }
}
