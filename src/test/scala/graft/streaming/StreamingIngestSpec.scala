package graft.streaming

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.etl.GamesStore

/** Streaming-variant tests (SURVEY.md §2.10): incremental file-source
  * ingest with checkpointed progress and idempotent appends.
  */
class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  private def game(url: String, endTime: Long, result: String): String =
    s"""{"url":"$url","time_control":"300+5","end_time":$endTime,
       |"pgn":"[Result \\"$result\\"]\\n1. e4 $result",
       |"white":{"username":"alice","rating":1500,"result":"win"},
       |"black":{"username":"bob","rating":1480,"result":"checkmated"}}"""
      .stripMargin.replace("\n", "")

  private def land(dir: Path, name: String, games: String*): Unit =
    Files.writeString(dir.resolve(name),
      s"""{"games":[${games.mkString(",")}]}""")

  test("streaming ingest: incremental files, checkpointed, deduped") {
    val root = Files.createTempDirectory("graft-stream")
    val landing = Files.createDirectory(root.resolve("landing"))
    val store = new GamesStore(s"$root/warehouse")
    val ckpt = s"$root/ckpt"

    // run 1: one archive file with two games
    land(landing, "a1.json", game("g1", 100, "1-0"), game("g2", 200, "0-1"))
    StreamingIngest.runAvailableNow(
      StreamingIngest.ingestStream(spark, landing.toString, store, "alice", ckpt))
    assert(store.games(spark).count() === 2)
    // the batch is written once, straight into the games table
    assert(new java.io.File(s"$root/warehouse").list().toSeq.sorted ===
      Seq("games", "processed_archives", "status_log"))

    // run 2: a new file lands containing one duplicate + one new game.
    // The checkpoint makes run 2 process ONLY the new file; the sink
    // anti-join dedupes g2.
    land(landing, "a2.json", game("g2", 200, "0-1"), game("g3", 300, "1/2-1/2"))
    StreamingIngest.runAvailableNow(
      StreamingIngest.ingestStream(spark, landing.toString, store, "alice", ckpt))
    val urls = store.games(spark).select("game_url")
      .as[String].collect().sorted.toSeq
    assert(urls === Seq("g1", "g2", "g3"))

    // run 3: nothing new → no change
    StreamingIngest.runAvailableNow(
      StreamingIngest.ingestStream(spark, landing.toString, store, "alice", ckpt))
    assert(store.games(spark).count() === 3)
  }

  test("streaming ingest dedupes within one micro-batch run") {
    val root = Files.createTempDirectory("graft-stream2")
    val landing = Files.createDirectory(root.resolve("landing"))
    val store = new GamesStore(s"$root/warehouse")
    // same game url in two files landed before the first run
    land(landing, "a1.json", game("g1", 100, "1-0"))
    land(landing, "a2.json", game("g1", 100, "1-0"), game("g2", 200, "0-1"))
    StreamingIngest.runAvailableNow(
      StreamingIngest.ingestStream(spark, landing.toString, store, "alice",
                                   s"$root/ckpt"))
    assert(store.games(spark).count() === 2)
  }
}
