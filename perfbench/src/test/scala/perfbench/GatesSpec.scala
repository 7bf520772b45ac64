package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.UserState

/** Each correctness gate passes on the expected result and fails when one
  * row is dropped from it.
  */
class GatesSpec extends AnyFunSuite {

  private val world = new ArchiveWorld(11L, WorldSize(users = 3, months = 4, gamesPerMonth = 10))
  private val model = new IngestModel(world)
  model.run("backfill")

  private def expected = StoreSnapshot(
    model.fact.keys.toSeq, model.ledger.toSeq, model.errors.toSeq,
    model.processed.keys.map(u =>
      u -> UserState(model.watermark.getOrElse(u, 0L), model.processed(u))).toMap)

  test("ingest gate: passes on the model's own store, fails on one dropped row") {
    assert(model.errors.nonEmpty, "the world should have failing archives")
    val ok = expected
    assert(IngestGate.check(model, ok).isEmpty)
    assert(IngestGate.check(model, ok.copy(gameUrls = ok.gameUrls.tail)).nonEmpty)
    assert(IngestGate.check(model, ok.copy(ledger = ok.ledger.tail)).nonEmpty)
    assert(IngestGate.check(model, ok.copy(errors = ok.errors.tail)).nonEmpty)
    assert(IngestGate.check(model, ok.copy(gameUrls = ok.gameUrls :+ ok.gameUrls.head)).nonEmpty)
    val u = ok.state.keys.head
    val moved = ok.state.updated(u, ok.state(u).copy(lastEndTime = ok.state(u).lastEndTime - 1))
    assert(IngestGate.check(model, ok.copy(state = moved)).nonEmpty)
  }

  test("dashboard gate: passes on the recomputed rows, fails on one dropped row") {
    val fact = model.fact.values.map(Derived(_)).toSeq
    val slicers = Seq(Slicer(world.users.head),
                      Slicer(world.users(1), color = Some("white")),
                      Slicer(world.users(2), bucket = Some("blitz")))
    for (s <- slicers; v <- DashboardTruth.Visuals) {
      val rows = DashboardTruth.visual(v, fact, s).map(Row.fromSeq)
      assert(rows.nonEmpty, s"$v [$s] should have rows")
      assert(DashboardTruth.check(v, rows, fact, s).isEmpty, s"$v [$s]")
      assert(DashboardTruth.check(v, rows.tail, fact, s).nonEmpty, s"$v [$s] minus a row")
    }
  }

  test("query gate: hash is order-insensitive and fails on one dropped row") {
    val rows = Seq(Row("a", 1L, 0.1 + 0.2), Row("b", 2L, 1.0 / 3), Row("c", null, 2.5))
    val h = QueryHash.of(rows)
    assert(QueryHash.of(rows.reverse) == h)
    assert(QueryHash.of(Seq(Row("a", 1L, 0.3), Row("b", 2L, 0.333333), Row("c", null, 2.5))) == h)
    assert(QueryHash.check("q", rows, Some((h, 3L))).isEmpty)
    assert(QueryHash.check("q", rows.tail, Some((h, 3L))).nonEmpty)
    assert(QueryHash.check("q", rows.tail :+ Row("d", 4L, 2.5), Some((h, 3L))).nonEmpty)
    assert(QueryHash.check("q", rows.tail, Some((QueryHash.RowsOnly, 3L))).nonEmpty)
    assert(QueryHash.check("q", rows, None).nonEmpty)
  }
}
