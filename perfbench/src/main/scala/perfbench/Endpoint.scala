package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import graft.etl.{Fetcher, MapFetcher}

/** The archive endpoint the ingest talks to, held once per JVM so that
  * the fetcher shipped into Spark tasks stays a few bytes long. Counts the
  * bytes served and when each archive list was asked for; with a tracer
  * enabled, records each call as a span under the span open at the time.
  */
object Endpoint {
  @volatile private var pages: MapFetcher = MapFetcher(Map.empty)
  @volatile var tracer: Tracer = new Tracer(false)

  val bytes = new AtomicLong
  /** Start time (epoch ms) of every archive-list call, in call order. */
  val listStarts = new ConcurrentLinkedQueue[java.lang.Double]()

  def publish(world: ArchiveWorld): Unit = pages = MapFetcher(world.pages)

  def fetch(url: String): Either[Int, String] = {
    val t0 = Span.now
    val list = url.endsWith("/archives")
    if (list) listStarts.add(t0)
    val r = pages.fetch(url)
    r.foreach(b => bytes.addAndGet(b.length.toLong))
    tracer.add(tracer.current, "fetch", if (list) "list" else "archive", t0, Span.now)
    r
  }

  def takeListStarts(): Seq[Double] = {
    val b = Seq.newBuilder[Double]
    var t = listStarts.poll()
    while (t != null) { b += t.doubleValue; t = listStarts.poll() }
    b.result()
  }
}

/** The `Fetcher` handed to `IngestJob`: delegates to [[Endpoint]]. */
final case class EndpointFetcher() extends Fetcher {
  override def fetch(url: String): Either[Int, String] = Endpoint.fetch(url)
}
