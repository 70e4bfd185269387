package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

/** One HTTP request as a client saw it. `ok` means status 200 and the
  * answer's digest equals the committed one. */
final case class Sample(kind: String, id: String, page: Int, startNs: Long,
    endNs: Long, ok: Boolean, status: Int, bytes: Int, rows: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A small HTTP client for the in-process server. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  def send(path: String, body: String): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(Duration.ofSeconds(120))
    val req =
      if (body.isEmpty) b.GET().build()
      else b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val res = client.send(req, HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  /** Send page `p` of `r` (a search page after the first carries the
    * previous page's cursor) and check the answer against `expected`.
    * Returns the sample and the next page's cursor. */
  def page(r: Req, p: Int, cursor: Option[String],
      expected: Map[String, Seq[String]]): (Sample, Option[String]) = {
    val t0 = System.nanoTime()
    val (status, bytes, rows, ok, next) =
      try {
        val (status, text) = send(r.path, Http.withCursor(r.body, cursor))
        if (status != 200) (status, text.length, 0, false, None)
        else {
          val rows = Answers.canonicalRows(r.kind, text)
          val want = expected.get(r.id).flatMap(_.lift(p))
          (status, text.length, rows.size,
            want.contains(Answers.digest(rows)),
            if (r.kind == "search") Answers.cursor(text) else None)
        }
      } catch { case _: Exception => (-1, 0, 0, false, None) }
    (Sample(r.kind, r.id, p, t0, System.nanoTime(), ok, status, bytes,
      rows), next)
  }

  /** Send every page of `r`. */
  def op(r: Req, expected: Map[String, Seq[String]]): Seq[Sample] = {
    var cursor: Option[String] = None
    (0 until r.pages).map { p =>
      val (s, next) = page(r, p, cursor, expected)
      cursor = next
      s
    }
  }
}

object Http {
  def withCursor(body: String, cursor: Option[String]): String =
    cursor.fold(body)(c => body.dropRight(1) + s""","cursor":"$c"}""")
}

/** Closed-loop dashboard clients: each thread takes the next request of
  * one shared seeded sequence of decks (`Grid.deck`), sends it (both
  * pages for a search), and takes the next. Measuring whole decks keeps
  * the request mix identical between runs. */
final class Clients(port: Int, expected: Map[String, Seq[String]],
    seed: Long, n: Int) {
  val samples = new ConcurrentLinkedQueue[(Int, Sample)]()
  private val stop = new AtomicBoolean(false)
  private val requests = Grid.sequence(seed).zipWithIndex
    .map { case (r, i) => (i / Grid.DeckSize, r) }
  private val firstDeal = new ConcurrentHashMap[Int, Long]()
  private val lastEnd = new ConcurrentHashMap[Int, Long]()
  private val opsDone = new ConcurrentHashMap[Int, AtomicInteger]()
  private def next(): (Int, Req) = requests.synchronized {
    val (d, r) = requests.next()
    firstDeal.putIfAbsent(d, System.nanoTime())
    (d, r)
  }
  private val threads = (0 until n).map { i =>
    val t = new Thread(() => {
      val http = new Http(port)
      while (!stop.get()) {
        val (d, r) = next()
        val ss = http.op(r, expected)
        ss.foreach(s => samples.add(d -> s))
        lastEnd.merge(d, ss.last.endNs, (a: Long, b: Long) => math.max(a, b))
        opsDone.computeIfAbsent(d, _ => new AtomicInteger()).incrementAndGet()
      }
    }, s"perfbench-client-$i")
    t.setDaemon(true)
    t
  }

  def start(): Unit = threads.foreach(_.start())

  /** Stop drawing; wait for in-flight requests to finish. */
  def finish(): Unit = {
    stop.set(true)
    threads.foreach(_.join(180000L))
  }

  /** Wait until every request of deck `d` is answered; returns the deck's
    * first deal and last answer times. */
  def awaitDeck(d: Int): (Long, Long) = {
    val deadline = System.nanoTime() + 150000000000L
    while (Option(opsDone.get(d)).forall(_.get < Grid.DeckSize)) {
      require(System.nanoTime() < deadline, s"deck $d did not complete")
      Thread.sleep(10)
    }
    (firstDeal.get(d), lastEnd.get(d))
  }

  def inDecks(from: Int, to: Int): Seq[Sample] = samples.asScala.collect {
    case (d, s) if d >= from && d <= to => s }.toSeq

  def completedIn(fromNs: Long, toNs: Long): Seq[Sample] =
    samples.asScala.collect {
      case (_, s) if s.endNs >= fromNs && s.endNs < toNs => s }.toSeq
}

object Clients {
  /** Warm up until two consecutive decks take times within `tolerance` of
    * each other (at most `maxS` seconds). Returns the warm-up length in
    * seconds and the last warm-up deck. */
  def warmUp(c: Clients, tolerance: Double, maxS: Double): (Double, Int) = {
    val t0 = System.nanoTime()
    var d = -1
    var prev = -1.0
    var steady = false
    while (!steady) {
      d += 1
      val (a, b) = c.awaitDeck(d)
      val dur = (b - a).toDouble
      steady = (prev > 0 && math.abs(dur - prev) <= tolerance * prev) ||
        System.nanoTime() - t0 >= maxS * 1e9
      prev = dur
    }
    ((System.nanoTime() - t0) / 1e9, d)
  }
}
