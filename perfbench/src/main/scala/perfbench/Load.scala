package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** One request as the client saw it. Latency is timed from `dueNs`:
  * the send time in a closed loop, the schedule slot in an open one.
  * A failed or non-2xx request has `ok = false`. */
final case class Outcome(endpoint: String, kind: String, dueNs: Long,
                         sentNs: Long, endNs: Long, ok: Boolean,
                         samples: Int, body: Array[Byte], req: AnyRef) {
  def latencyMs: Double = if (ok) (endNs - dueNs) / 1e6 else Double.PositiveInfinity
}

/** HTTP traffic against one live server. */
final class Load(port: Int) {
  private val base = s"http://127.0.0.1:$port"
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  val outcomes = new ConcurrentLinkedQueue[Outcome]()

  private def send(endpoint: String, kind: String, dueNs: Long,
                   req: HttpRequest, samples: Int, tag: AnyRef): Outcome = {
    val sent = System.nanoTime()
    val (ok, body) =
      try {
        val res = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
        (res.statusCode() / 100 == 2, res.body())
      } catch { case _: java.io.IOException => (false, Array.emptyByteArray) }
    val o = Outcome(endpoint, kind, dueNs, sent, System.nanoTime(), ok,
      samples, body, tag)
    outcomes.add(o)
    o
  }

  def write(b: Batch, dueNs: Long): Outcome =
    send("write", "write", dueNs,
      HttpRequest.newBuilder(URI.create(base + "/write"))
        .header("Content-Type", "application/x-protobuf")
        .header("Content-Encoding", "snappy")
        .header("X-Prometheus-Remote-Write-Version", "0.1.0")
        .POST(HttpRequest.BodyPublishers.ofByteArray(b.body)).build(),
      b.samples.size, b)

  def read(q: ReadReq, dueNs: Long): Outcome = q match {
    case r: RemoteRead =>
      send("read", r.kind, dueNs,
        HttpRequest.newBuilder(URI.create(base + "/read"))
          .header("Content-Type", "application/x-protobuf")
          .header("Content-Encoding", "snappy")
          .POST(HttpRequest.BodyPublishers.ofByteArray(r.body)).build(), 0, r)
    case r: RangeRead =>
      send("query_range", r.kind, dueNs,
        HttpRequest.newBuilder(URI.create(base + r.path)).GET().build(), 0, r)
  }

  def results: Seq[Outcome] = outcomes.asScala.toSeq
}

/** Client loops. Each returns once its deadline passes; a request sent
  * before the deadline is always waited for. */
object Loops {

  /** A shared cursor over a finite request list. */
  final class Cursor[A](xs: IndexedSeq[A]) {
    private val i = new AtomicInteger(0)
    def next(): Option[A] = {
      val k = i.getAndIncrement()
      if (k < xs.size) Some(xs(k)) else None
    }
    def taken: Int = math.min(i.get, xs.size)
  }

  private def threads(n: Int, name: String)(body: => Unit): Seq[Thread] =
    (0 until n).map { k =>
      val t = new Thread(() => body, s"perfbench-$name-$k")
      t.setDaemon(true)
      t.start()
      t
    }

  /** `n` clients, each sending its next request only after the reply
    * to the previous one, until `deadlineNs` or the input runs out. */
  def closed[A](n: Int, name: String, cursor: Cursor[A], deadlineNs: Long)
               (call: (A, Long) => Outcome): Seq[Thread] =
    threads(n, name) {
      var go = true
      while (go && System.nanoTime() < deadlineNs)
        cursor.next() match {
          case Some(a) => call(a, System.nanoTime())
          case None => go = false
        }
    }

  /** One sender offering `perSec` requests per second on a fixed
    * schedule from `t0Ns`, whatever the replies do: a request whose
    * slot comes while an earlier one is still out goes on its own
    * thread. Returns the send lateness of every request, ms. */
  def open[A](perSec: Double, name: String, cursor: Cursor[A], t0Ns: Long,
              deadlineNs: Long)(call: (A, Long) => Outcome)
      : (Thread, ConcurrentLinkedQueue[Double], ConcurrentLinkedQueue[Thread]) = {
    val lateness = new ConcurrentLinkedQueue[Double]()
    val inflight = new ConcurrentLinkedQueue[Thread]()
    val t = threads(1, name) {
      var i = 0L
      var go = true
      while (go) {
        val due = Stats.dueNs(t0Ns, i, perSec)
        if (due >= deadlineNs) go = false
        else {
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          cursor.next() match {
            case Some(a) =>
              lateness.add(Stats.latenessMs(due, System.nanoTime()))
              inflight.addAll(threads(1, s"$name-$i")(call(a, due)).asJava)
            case None => go = false
          }
          i += 1
        }
      }
    }.head
    (t, lateness, inflight)
  }
}
