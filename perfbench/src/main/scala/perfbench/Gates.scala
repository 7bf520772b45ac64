package perfbench

import java.time.LocalDate

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.etl.UserState
import graft.semantic.FilterContext

/** Canonical text form of result cells, so that a Spark row and a value
  * recomputed in plain Scala compare equal. Doubles are rounded to
  * `digits` significant digits.
  */
object Canon {
  def cell(v: Any, digits: Int = 9): String = v match {
    case null                  => "null"
    case d: Double             => dbl(d, digits)
    case f: Float              => dbl(f.toDouble, digits)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte]        => b.map("%02x".format(_)).mkString
    case r: Row                => r.toSeq.map(cell(_, digits)).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k, digits) + "->" + cell(x, digits) }
        .sorted.mkString("map(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell(_, digits)).mkString("[", ",", "]")
    case other                 => other.toString
  }

  private def dbl(d: Double, digits: Int): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(digits)).stripTrailingZeros.toPlainString

  def row(r: Row, digits: Int = 9): Seq[String] = r.toSeq.map(cell(_, digits))
}

// ------------------------------------------------------------------ ingest

/** What the store holds after a run, collected from its tables. */
final case class StoreSnapshot(
    gameUrls: Seq[String],
    ledger: Seq[(String, String, Long)],
    errors: Seq[(String, String, String, String)],
    state: Map[String, UserState])

object IngestGate {

  /** Problems found, empty when the store matches the model. */
  def check(model: IngestModel, s: StoreSnapshot): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val dupes = s.gameUrls.size - s.gameUrls.distinct.size
    if (dupes != 0) problems += s"fact holds $dupes duplicate game_url rows"
    val got = s.gameUrls.toSet
    val want = model.fact.keySet.toSet
    if (got != want)
      problems += s"fact urls: ${(want -- got).size} missing, ${(got -- want).size} unexpected"
    if (multiset(s.ledger) != multiset(model.ledger.toSeq))
      problems += s"ledger: ${s.ledger.size} rows, expected ${model.ledger.size}"
    if (multiset(s.errors) != multiset(model.errors.toSeq))
      problems += s"error rows: ${s.errors.size}, expected ${model.errors.size}"
    model.processed.keys.foreach { u =>
      val st = s.state.getOrElse(u, UserState(0L, Vector.empty))
      if (st.lastEndTime != model.watermark.getOrElse(u, 0L))
        problems += s"watermark of $u: ${st.lastEndTime}, expected ${model.watermark.getOrElse(u, 0L)}"
      if (st.processedArchives.sorted != model.processed(u).sorted)
        problems += s"processed archives of $u differ"
    }
    problems.result()
  }

  private def multiset[T](xs: Seq[T]): Map[T, Int] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size }
}

// --------------------------------------------------------------- dashboard

/** A page's slicer context: one user plus one more slicer. */
final case class Slicer(user: String,
                        dates: Option[(LocalDate, LocalDate)] = None,
                        bucket: Option[String] = None,
                        color: Option[String] = None) {

  def context: FilterContext = {
    var ctx = FilterContext.empty.and(col("username") === user)
    dates.foreach { case (a, b) =>
      ctx = ctx.dateBetween(col("date_ymd"), a.toString, b.toString) }
    bucket.foreach(b => ctx = ctx.and(col("time_control_bucket") === b))
    color.foreach(c => ctx = ctx.and(col("user_color") === c))
    ctx
  }

  def accepts(r: Derived): Boolean =
    r.username == user &&
      dates.forall { case (a, b) => !r.date.isBefore(a) && !r.date.isAfter(b) } &&
      bucket.forall(_ == r.bucket) && color.forall(_ == r.color)

  override def toString: String =
    (Seq(s"user=$user") ++ dates.map { case (a, b) => s"dates=$a..$b" } ++
      bucket.map("bucket=" + _) ++ color.map("color=" + _)).mkString(" ")
}

/** A fact row with the semantic layer's derived columns, in plain Scala. */
final case class Derived(username: String, date: LocalDate, color: String,
                         opponent: String, bucket: String,
                         opponentBand: String, eco: String, outcome: String)

object Derived {
  def apply(r: FactRow): Derived = {
    val g = r.game
    val white = g.white.username.equalsIgnoreCase(r.username)
    val color = if (white) "white" else "black"
    val opp = if (white) g.black else g.white
    val outcome = g.result match {
      case "1-0"     => if (white) "win" else "loss"
      case "0-1"     => if (white) "loss" else "win"
      case "1/2-1/2" => "draw"
      case _         => "unknown"
    }
    Derived(r.username, g.date, color, opp.username, bucket(g.timeControl),
      band(opp.rating), eco = g.eco, outcome = outcome)
  }

  def bucket(tc: String): String =
    if (tc.contains("/")) "daily"
    else tc.split("\\+", -1).head match {
      case d if d.nonEmpty && d.forall(_.isDigit) =>
        val base = d.toLong
        if (base < 180) "bullet" else if (base < 600) "blitz" else "rapid"
      case _ => "unknown"
    }

  def band(rating: Int): String = {
    val lo = math.floor(rating / 200.0).toInt * 200
    s"$lo-${lo + 199}"
  }
}

/** The six dashboard visuals, recomputed in plain Scala from the
  * generator's records, in the row order `graft.semantic.Dashboard`
  * defines. Cells are in [[Canon]] form.
  */
object DashboardTruth {
  val Visuals: Seq[String] =
    Seq("cards", "opponents", "bucket_color", "opponent_bucket", "openings", "rolling")

  private def rate(wins: Long, games: Long): Any =
    if (games == 0) null else wins.toDouble / games
  private def canon(xs: Any*): Seq[String] = xs.map(Canon.cell(_))

  def visual(name: String, fact: Seq[Derived], s: Slicer): Seq[Seq[String]] = {
    val rows = fact.filter(s.accepts)
    def wins(xs: Seq[Derived]) = xs.count(_.outcome == "win").toLong
    def sumOrNull(xs: Seq[Derived], o: String): Any =
      if (xs.isEmpty) null else xs.count(_.outcome == o).toLong
    def topN(key: Derived => String, n: Int) =
      rows.groupBy(key).toSeq
        .sortBy { case (k, xs) => (-xs.size, k) }.take(n)
    name match {
      case "cards" =>
        Seq(canon(rows.size.toLong, sumOrNull(rows, "win"), sumOrNull(rows, "loss"),
                  sumOrNull(rows, "draw"), rate(wins(rows), rows.size)))
      case "opponents" =>
        topN(_.opponent, 10).map { case (k, xs) =>
          canon(k, xs.size.toLong, wins(xs), rate(wins(xs), xs.size)) }
      case "bucket_color" =>
        rows.groupBy(r => (r.bucket, r.color)).toSeq
          .map { case ((b, c), xs) => (b, c, xs.size.toLong, wins(xs), wins(xs).toDouble / xs.size) }
          .sortBy { case (b, c, _, _, wr) => (-wr, b, c) }
          .map { case (b, c, n, w, wr) => canon(b, c, n, w, wr) }
      case "opponent_bucket" =>
        rows.groupBy(_.opponentBand).toSeq
          .map { case (b, xs) => (b, xs.size.toLong, wins(xs), wins(xs).toDouble / xs.size) }
          .sortBy { case (b, _, _, wr) => (-wr, b) }
          .map { case (b, n, w, wr) => canon(b, n, w, wr) }
      case "openings" =>
        topN(_.eco, 5)
          .map { case (e, xs) => (e, xs.size.toLong, wins(xs).toDouble / xs.size) }
          .sortBy { case (e, _, wr) => (-wr, e) }
          .map { case (e, n, wr) => canon(e, n, wr) }
      case "rolling" => rolling(rows, 12)
    }
  }

  private def rolling(rows: Seq[Derived], days: Int): Seq[Seq[String]] =
    if (rows.isEmpty) Nil
    else {
      val byDay = rows.groupBy(_.date)
      val lo = byDay.keys.min
      val hi = byDay.keys.max
      val span = Iterator.iterate(lo)(_.plusDays(1)).takeWhile(!_.isAfter(hi)).toVector
      val games = span.map(d => byDay.get(d).map(_.size.toLong).getOrElse(0L))
      val won = span.map(d => byDay.get(d).map(xs => xs.count(_.outcome == "win").toLong).getOrElse(0L))
      span.indices.map { i =>
        val from = math.max(0, i - days + 1)
        val wg = (from to i).map(games).sum
        val ww = (from to i).map(won).sum
        val d = span(i)
        val monthName = d.getMonth.getDisplayName(java.time.format.TextStyle.FULL,
                                                  java.util.Locale.US)
        canon(d, d.getYear, d.getMonthValue, monthName, d.getDayOfMonth,
              games(i), won(i), wg, ww, rate(ww, wg))
      }
    }

  /** Problems found comparing collected rows to the recomputation. */
  def check(name: String, got: Seq[Row], fact: Seq[Derived], s: Slicer): Seq[String] = {
    val want = visual(name, fact, s)
    val have = got.map(Canon.row(_))
    if (have == want) Nil
    else Seq(s"visual $name [$s]: ${have.size} rows, expected ${want.size}" +
      have.zip(want).find { case (a, b) => a != b }
        .map { case (a, b) => s"; first difference ${a.mkString(",")} vs ${b.mkString(",")}" }
        .getOrElse(""))
  }
}

// ----------------------------------------------------------------- queries

/** Order-insensitive result hash (doubles rounded to six significant
  * digits) and the table of hashes minted for the benchmark's queries.
  */
object QueryHash {
  val Digits = 6
  val RowsOnly = "rows-only"

  def of(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(r => Canon.row(r, Digits).mkString("\u0001")).sorted.foreach { s =>
      md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** One line per query: `name <TAB> hash-or-rows-only <TAB> row count`. */
  def load(path: java.nio.file.Path): Map[String, (String, Long)] =
    scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> (f(1), f(2).toLong) }.toMap

  def check(name: String, rows: Seq[Row], expected: Option[(String, Long)]): Seq[String] =
    expected match {
      case None => Seq(s"$name: no minted hash")
      case Some((h, n)) =>
        if (rows.size.toLong != n) Seq(s"$name: ${rows.size} rows, expected $n")
        else if (h != RowsOnly && of(rows) != h) Seq(s"$name: result hash differs")
        else Nil
    }
}
