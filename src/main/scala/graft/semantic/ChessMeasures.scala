package graft.semantic

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The per-game outcome under the chess measures (SURVEY.md §2.6).
  *
  * The 11 measures A1–A11 themselves live in the [[Dashboard]] companion,
  * as readers of four additive counters (games, wins, losses, draws);
  * this object classifies each game into the win/loss/draw the counters
  * sum. Measure names are attested in the reference's report layout;
  * bodies are inferred from name + schema (the model blob is compressed —
  * SURVEY.md §0 note). Operates on the derived fact
  * (GameTransforms.withDerived): requires `result` and `user_color`.
  */
object ChessMeasures {

  /** Draw vocabulary of the side-result fallback domain (chess.com result
    * codes that end a game drawn).
    */
  val DrawCodes: Seq[String] = Seq(
    "agreed", "repetition", "stalemate", "insufficient",
    "50move", "timevsinsufficient")

  /** Outcome classification for the tracked user: win/loss/draw/unknown.
    *
    * Handles BOTH the canonical domain (`1-0`, `0-1`, `1/2-1/2`) and the
    * reference's non-canonical fallback `"{white} / {black}"` (e.g.
    * `"win / checkmated"`) — SURVEY.md §7.4 "Result-string semantics".
    */
  def outcome(result: Column, userColor: Column): Column = {
    val mySide = when(userColor === "white",
      element_at(split(result, " / "), 1))
      .otherwise(element_at(split(result, " / "), 2))
    val otherSide = when(userColor === "white",
      element_at(split(result, " / "), 2))
      .otherwise(element_at(split(result, " / "), 1))
    when(result === "1-0", when(userColor === "white", "win").otherwise("loss"))
      .when(result === "0-1", when(userColor === "black", "win").otherwise("loss"))
      .when(result === "1/2-1/2", "draw")
      .when(result.contains(" / "),
        when(mySide === "win", "win")
          .when(otherSide === "win", "loss")
          .when(mySide.isin(DrawCodes: _*), "draw")
          .otherwise("unknown"))
      .otherwise("unknown")
  }

  private def o: Column = outcome(col("result"), col("user_color"))

  def winExpr: Column  = (o === "win").cast("long")
  def lossExpr: Column = (o === "loss").cast("long")
  def drawExpr: Column = (o === "draw").cast("long")
}
