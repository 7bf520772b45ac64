package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.etl.{GamesStore, IngestJob, MapFetcher, StateStore}
import graft.obs.Meter
import graft.semantic.{Dashboard, FilterContext}

/** [[GraftSession]]'s codegen-cache cap holds the engine's working set: a
  * long-lived session compiles each generated class once, so a page
  * rendered again after an ingest run in between compiles nothing.
  */
class GraftSessionSpec extends SparkSpec {

  private val base = "https://api.chess.com"

  /** The chess fixture's archives (`src/test/resources/raw_archives`),
    * served by a [[MapFetcher]]: alice's two months and bob's one. */
  private val pages: Map[String, Either[Int, String]] = {
    def body(name: String) = {
      val src = scala.io.Source.fromResource(s"raw_archives/$name.json")
      try src.mkString finally src.close()
    }
    def month(user: String, ym: String) = s"$base/pub/player/$user/games/${ym.replace('-', '/')}"
    val archives = Map("alice" -> Seq("2024-01", "2024-02"), "bob" -> Seq("2024-01"))
    archives.flatMap { case (user, months) =>
      val urls = months.map(month(user, _))
      Map(s"$base/pub/player/$user/games/archives" ->
            Right(urls.map("\"" + _ + "\"").mkString("""{"archives":[""", ",", "]}"))) ++
        months.map(m => month(user, m) -> Right(body(s"${user}_$m")))
    }
  }

  /** The six visuals of one page, each collected. */
  private def page(d: Dashboard, ctx: FilterContext): Seq[Seq[Row]] =
    Seq(d.cards(ctx), d.topOpponents(10, ctx), d.winRateByBucketAndColor(ctx),
        d.winRateByOpponentBucket(ctx), d.topOpenings(5, ctx),
        d.rollingWinRate(spark, 12, ctx)).map(_.collect().toSeq)

  test("the session's codegen cache is GraftSession's cap") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a second page under an equal context compiles no class, after an " +
       "ingest run in between") {
    val dir = Files.createTempDirectory("graft-session").toString
    val store = new GamesStore(s"$dir/warehouse")
    val job = new IngestJob(spark, MapFetcher(pages), store,
                            new StateStore(s"$dir/state.json"), base)
    // a freshly built, non-date context per page: a date literal would
    // compile new classes for a new value
    def ctx = FilterContext.empty.and(col("username") === "alice")
      .and(col("user_color") === "white")
    job.run("alice")
    val first = new Dashboard(store.games(spark))
    val want = try page(first, ctx) finally first.close()
    assert(want.head.head.getAs[Long]("total_games") > 0L)
    // other work in between: bob's ingest run uses the ingest's classes
    // (about 60), which under Spark's default cap of 100 evict the page's
    job.run("bob")
    val second = new Dashboard(store.games(spark))
    val (got, counts) = try Meter.during(spark)(page(second, ctx))
                        finally second.close()
    assert(got === want)
    assert(counts.jobs > 0L)
    assert(counts.compiles == 0L,
      s"the second page compiled ${counts.compiles} classes (${counts.compileMs} ms)")
  }
}
