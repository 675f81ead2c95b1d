package perfbench

import graft.codec.Prompb
import graft.codec.Prompb.{PLabel, PLabelMatcher, PSample, PTimeSeries, PWriteRequest}

/** One input sample: an `events` row mapped onto the metrics model
  * (metric name = event type, one `user_id` label, whole-second time).
  */
final case class Sample(metric: String, user: Int, tsSec: Long, value: Double) {
  def tags: Seq[String] = Seq(s"__name__=$metric", s"user_id=$user")
}

/** One pre-encoded remote-write POST body and the samples it carries. */
final case class Batch(samples: IndexedSeq[Sample], body: Array[Byte])

/** One request of the read mix. `kind` names the query shape. */
sealed trait ReadReq { def kind: String }

/** A `POST /read` with one query; `body` is the snappy ReadRequest. */
final case class RemoteRead(kind: String, matchers: Seq[PLabelMatcher],
                            startMs: Long, endMs: Long,
                            body: Array[Byte]) extends ReadReq

/** A `GET /api/v1/query_range`. Times in epoch seconds. */
final case class RangeRead(kind: String, query: String, metric: String,
                           user: Option[Int], rangeSec: Long,
                           startSec: Long, endSec: Long,
                           stepSec: Long) extends ReadReq {
  def path: String = {
    val q = java.net.URLEncoder.encode(query, "UTF-8")
    s"/api/v1/query_range?query=$q&start=$startSec&end=$endSec&step=$stepSec"
  }
}

/** The benchmark's generated inputs.
  *
  * The table has the shape of the sf-scaled `events` table: at sf 0.1,
  * 100,000 finite samples over 30 days in 7,500 series (5 metrics ×
  * 1,500 users), exponential values with mean 50 rounded to cents,
  * uniform times. The table is drawn from a fixed seed, so every run
  * writes the same samples; the run seed picks the read queries and
  * their order.
  */
object Inputs {
  val Metrics: Vector[String] = Vector("click", "error", "purchase", "signup", "view")
  val DaySec: Long = 86400L
  val SpanSec: Long = 30 * DaySec
  /** 2024-01-01T00:00:00Z, the first instant of the table. */
  val Epoch0: Long = 1704067200L
  /** Prometheus's default `max_samples_per_send`; smaller tables use
    * smaller batches so that a pass is always 50 of them. */
  val BatchSamples: Int = 2000
  val TableSeed: Long = 42L

  /** The table, sorted by time. */
  def table(sf: Double): IndexedSeq[Sample] = {
    val n = math.max(1, math.round(sf * 1000000L)).toInt
    val users = math.max(5, math.round(sf * 15000L)).toInt
    val r = new scala.util.Random(TableSeed)
    val ts = Array.fill(n)(Epoch0 + (r.nextDouble() * SpanSec).toLong)
    java.util.Arrays.sort(ts)
    ts.toIndexedSeq.map { t =>
      val v = math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100.0
      Sample(Metrics(r.nextInt(Metrics.size)), r.nextInt(users), t, v)
    }
  }

  /** `samples` shifted forward by `pass` table spans: pass k writes
    * the same table k × 30 days later, so every sample is new. */
  def shifted(samples: IndexedSeq[Sample], pass: Int): IndexedSeq[Sample] =
    if (pass == 0) samples
    else samples.map(s => s.copy(tsSec = s.tsSec + pass * SpanSec))

  /** One remote-write body: the batch's samples grouped into series, in
    * time order within each series, snappy-framed like a Prometheus
    * queue-manager shard sends them. */
  def encode(samples: IndexedSeq[Sample]): Batch = {
    val series = samples.groupBy(s => (s.metric, s.user)).toSeq
      .sortBy(_._2.head.tsSec)
      .map { case ((m, u), ss) =>
        PTimeSeries(Seq(PLabel("__name__", m), PLabel("user_id", u.toString)),
          ss.map(s => PSample(s.value, s.tsSec * 1000L)))
      }
    Batch(samples,
      Prompb.snappyCompress(Prompb.encodeWriteRequest(PWriteRequest(series))))
  }

  private def rr(kind: String, ms: Seq[PLabelMatcher], s: Long, e: Long) =
    RemoteRead(kind, ms, s * 1000L, e * 1000L,
      Prompb.snappyCompress(Prompb.encodeReadRequest(
        Prompb.PReadRequest(Seq(Prompb.PQuery(s * 1000L, e * 1000L, ms))))))

  private def eq(n: String, v: String) = PLabelMatcher(Prompb.MatchType.EQ, n, v)

  /** The seeded read mix over the samples in `static` (which nothing
    * writes during the run): `n` requests in blocks of seven, each block
    * in its own seeded order. A block holds one of each `/read` shape
    * and four `query_range`s, the cheap shape three times, so each
    * endpoint's p50 and p90 fall inside one shape rather than on the
    * border between two. Windows are clipped to the static span. */
  def readMix(static: IndexedSeq[Sample], seed: Long, n: Int): IndexedSeq[ReadReq] = {
    val r = new scala.util.Random(seed)
    val lo = static.head.tsSec
    // the next batch may start in the same second: stop one short
    val hi = static.last.tsSec - 1
    def window(len: Long, around: Option[Long]): (Long, Long) = {
      val w = math.min(len, hi - lo)
      val s0 = around.fold(lo + (r.nextDouble() * (hi - lo - w)).toLong)(
        t => t - (r.nextDouble() * w).toLong)
      val s = math.max(lo, math.min(s0, hi - w))
      (s, s + w)
    }
    def pick(): Sample = static(r.nextInt(static.size))
    def metric(): String = Metrics(r.nextInt(Metrics.size))
    val shapes: Vector[() => ReadReq] = Vector(
      () => {
        val p = pick(); val (s, e) = window(DaySec, Some(p.tsSec))
        rr("series_1d", Seq(eq("__name__", p.metric), eq("user_id", p.user.toString)), s, e)
      },
      () => {
        val (s, e) = window(7 * DaySec, None)
        rr("metric_7d", Seq(eq("__name__", metric())), s, e)
      },
      () => {
        val two = r.shuffle(Metrics).take(2)
        val (s, e) = window(SpanSec, None)
        rr("regex_span", Seq(PLabelMatcher(Prompb.MatchType.RE, "__name__",
          two.mkString("|"))), s, e)
      },
      () => {
        val m = metric(); val (s, e) = window(7 * DaySec, None)
        RangeRead("rate_sum_7d", s"sum by (__name__)(rate($m[1d]))", m, None,
          DaySec, s, e, 3600L)
      },
      () => {
        val p = pick(); val (s, e) = window(2 * DaySec, Some(p.tsSec))
        RangeRead("max_user_2d",
          s"""max_over_time(${p.metric}{user_id="${p.user}"}[1d])""", p.metric,
          Some(p.user), DaySec, s, e, 600L)
      })
    val block = shapes :+ shapes.last :+ shapes.last
    Iterator.continually(r.shuffle(block)).flatten.take(n).map(_()).toIndexedSeq
  }
}
