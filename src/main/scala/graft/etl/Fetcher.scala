package graft.etl

/** Pluggable payload fetcher (SURVEY.md §2.1 S1).
  *
  * The reference does driver-side HTTP with retry/backoff
  * (`fetch_and_post.py:57-87`): retry ≤ N on exception or status in
  * {429,500,502,503,504}, exponential backoff ×2. Here the fetcher is a
  * serializable trait so the SAME retry wrapper runs either driver-side
  * (archive listing — one tiny call per user) or inside executors via
  * `ArchiveSource.readArchives` (archive payloads — the fan-out path that
  * must scale).
  */
trait Fetcher extends Serializable {
  /** Fetch a URL. Left(status) on a failed HTTP status, Right(body) on 200. */
  def fetch(url: String): Either[Int, String]
}

object Fetcher {
  /** Statuses worth retrying, per the reference's whitelist. */
  val RetryableStatuses: Set[Int] = Set(429, 500, 502, 503, 504)
}

/** Exponential-backoff retry wrapper: maxRetries attempts, backoff doubling
  * from `baseBackoffMs`, retrying on exceptions and retryable statuses only.
  * `sleeper` is injectable so tests don't sleep.
  */
final case class RetryingFetcher(
    inner: Fetcher,
    maxRetries: Int = 3,
    baseBackoffMs: Long = 2000L,
    sleeper: Long => Unit = Thread.sleep) extends Fetcher {

  override def fetch(url: String): Either[Int, String] = {
    var attempt = 0
    var backoff = baseBackoffMs
    var last: Either[Int, String] = Left(-1)
    while (attempt < maxRetries) {
      attempt += 1
      last =
        try inner.fetch(url)
        catch { case scala.util.control.NonFatal(_) => Left(-1) }
      last match {
        case Right(body) => return Right(body)
        case Left(status)
            if status != -1 && !Fetcher.RetryableStatuses.contains(status) =>
          return Left(status) // non-retryable: fail fast
        case Left(_) if attempt < maxRetries =>
          sleeper(backoff); backoff *= 2
        case Left(_) => ()
      }
    }
    last
  }
}

/** Inter-request pacing (S1: the reference sleeps `CHESS_REQUEST_DELAY`
  * between requests, `fetch_and_post.py:34,336,415`): enforces a minimum
  * gap between consecutive fetches through this limiter, across threads
  * and tasks. Spark hands each task its own deserialized copy, so the last
  * fetch time lives in a JVM-wide gate named by an id every copy carries:
  * all copies of one limiter in a JVM queue on the same gate. The
  * effective global request rate is therefore ≈ executors / delaySeconds;
  * size the delay so that stays within the API's budget.
  */
final case class RateLimitedFetcher(
    inner: Fetcher,
    minDelayMs: Long,
    sleeper: Long => Unit = Thread.sleep,
    clock: () => Long = System.currentTimeMillis) extends Fetcher {

  private val gateId = java.util.UUID.randomUUID()

  override def fetch(url: String): Either[Int, String] = {
    val gate = RateLimitedFetcher.gate(gateId)
    gate.synchronized {
      val now = clock()
      if (gate.lastAt != Long.MinValue && now - gate.lastAt < minDelayMs)
        sleeper(minDelayMs - (now - gate.lastAt))
      val r = inner.fetch(url)
      gate.lastAt = clock()
      r
    }
  }
}

object RateLimitedFetcher {

  /** The last fetch end of one limiter in this JVM. */
  private final class Gate { var lastAt = Long.MinValue }

  /** One small entry per limiter this JVM has fetched through. */
  private val gates = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Gate]()

  private def gate(id: java.util.UUID): Gate = gates.computeIfAbsent(id, _ => new Gate)
}

/** Real HTTP fetcher over `java.net.http` (JDK built-in, no extra deps).
  * 30 s timeout + UA header, mirroring the reference's operating params.
  * Not exercised in the zero-egress test environment; the retry/orchestration
  * logic is covered through [[MapFetcher]].
  */
final class HttpFetcher(userAgent: String = "graft-spark/0.1") extends Fetcher {
  @transient private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(30)).build()

  override def fetch(url: String): Either[Int, String] = {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofSeconds(30))
      .header("User-Agent", userAgent).GET().build()
    val resp =
      client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() == 200) Right(resp.body()) else Left(resp.statusCode())
  }
}

/** Test fetcher backed by an in-memory map (url → body | status). */
final case class MapFetcher(pages: Map[String, Either[Int, String]]) extends Fetcher {
  override def fetch(url: String): Either[Int, String] =
    pages.getOrElse(url, Left(404))
}
