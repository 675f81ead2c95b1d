package perfbench

import graft.codec.Prompb

/** Plain-Scala answers for the read mix, computed from the generated
  * input (`static`: every sample the queried time span holds). Each
  * check returns `None` when the response matches, else why not. */
final class Oracle(val samples: IndexedSeq[Sample]) {

  private val series: Map[(String, Int), IndexedSeq[Sample]] =
    samples.groupBy(s => (s.metric, s.user)).map { case (k, v) => k -> v.sortBy(_.tsSec) }

  private def inWindow(ss: IndexedSeq[Sample], lo: Long, hi: Long): IndexedSeq[Sample] =
    ss.filter(s => s.tsSec >= lo && s.tsSec <= hi)

  private def matches(m: Prompb.PLabelMatcher, metric: String, user: Int): Boolean = {
    val v = if (m.name == "__name__") metric else if (m.name == "user_id") user.toString else ""
    m.matchType match {
      case Prompb.MatchType.EQ => v == m.value
      case Prompb.MatchType.RE => java.util.regex.Pattern.compile(m.value).matcher(v).find()
      case t => throw new IllegalArgumentException(s"matcher type $t is not in the mix")
    }
  }

  /** `/read`: the series label sets and bucket timestamps equal the
    * recomputation, and every value is one of its bucket's inputs. */
  def checkRead(q: RemoteRead, body: Array[Byte]): Option[String] = {
    val resp = Prompb.decodeReadResponse(Prompb.snappyUncompress(body))
    if (resp.results.size != 1) return Some(s"${resp.results.size} results for one query")
    val lo = q.startMs / 1000
    val hi = q.endMs / 1000
    val step = math.max((hi - lo) / 8192, 10L)
    val expected: Map[Set[(String, String)], Map[Long, Set[Double]]] =
      series.iterator.collect {
        case ((m, u), ss) if q.matchers.forall(matches(_, m, u)) &&
            inWindow(ss, lo, hi).nonEmpty =>
          Set("__name__" -> m, "user_id" -> u.toString) ->
            inWindow(ss, lo, hi).groupBy(s => s.tsSec / step * step * 1000L)
              .map { case (b, xs) => b -> xs.map(_.value).toSet }
      }.toMap
    val got = resp.results.head.timeseries
      .map(ts => ts.labels.map(l => l.name -> l.value).toSet -> ts.samples)
    if (got.map(_._1).toSet != expected.keySet || got.size != expected.size)
      return Some(s"${q.kind}: ${got.size} series returned, ${expected.size} expected")
    got.iterator.flatMap { case (labels, samples) =>
      val buckets = expected(labels)
      if (samples.map(_.timestampMs) != buckets.keys.toSeq.sorted)
        Some(s"${q.kind}: bucket timestamps differ for $labels")
      else samples.collectFirst {
        case s if !buckets(s.timestampMs).contains(s.value) =>
          s"${q.kind}: value ${s.value} at ${s.timestampMs} is not an input of $labels"
      }
    }.nextOption()
  }

  private def grid(q: RangeRead): Seq[Long] =
    (q.startSec to q.endSec by q.stepSec)

  /** `query_range`: the series set and the step grid equal the
    * recomputation; for `max_over_time` the values do too. */
  def checkRange(q: RangeRead, body: Array[Byte]): Option[String] = {
    val js = Json.mapper.readTree(body)
    if (js.path("status").asText() != "success")
      return Some(s"${q.kind}: status ${js.path("status").asText()}")
    val result = js.path("data").path("result")
    val got: Seq[(Map[String, String], Seq[(Long, Double)])] =
      (0 until result.size()).map { i =>
        val r = result.get(i)
        val names = r.path("metric").fieldNames()
        val labels = Iterator.continually(names).takeWhile(_.hasNext).map(_.next())
          .map(k => k -> r.path("metric").path(k).asText()).toMap
        val vs = r.path("values")
        labels -> (0 until vs.size()).map(j =>
          vs.get(j).get(0).asLong() -> vs.get(j).get(1).asText().toDouble)
      }
    // per grid instant t: the window (t − range, t] of each series
    def window(ss: IndexedSeq[Sample], t: Long) =
      ss.filter(s => s.tsSec > t - q.rangeSec && s.tsSec <= t)
    val expected: Seq[(Map[String, String], Seq[(Long, Option[Double])])] = q.user match {
      case Some(u) => // max_over_time(m{user_id="u"}[r]): one series, name dropped
        val ss = series.getOrElse((q.metric, u), IndexedSeq.empty)
        val pts = grid(q).flatMap { t =>
          val w = window(ss, t)
          if (w.isEmpty) None else Some(t -> Some(w.map(_.value).max))
        }
        if (pts.isEmpty) Nil else Seq(Map("user_id" -> u.toString) -> pts)
      case None => // sum by (__name__)(rate(m[r])): rate drops the name
        val ofMetric = series.collect { case ((m, _), ss) if m == q.metric => ss }.toSeq
        val pts = grid(q).filter(t =>
          ofMetric.exists(ss => window(ss, t).map(_.tsSec).distinct.size >= 2))
          .map(_ -> Option.empty[Double])
        if (pts.isEmpty) Nil else Seq(Map.empty[String, String] -> pts)
    }
    if (got.map(_._1) != expected.map(_._1))
      return Some(s"${q.kind}: series ${got.map(_._1)} returned, ${expected.map(_._1)} expected")
    got.zip(expected).iterator.flatMap { case ((_, gp), (_, ep)) =>
      if (gp.map(_._1) != ep.map(_._1))
        Some(s"${q.kind}: step grid differs (${gp.size} points, ${ep.size} expected)")
      else gp.zip(ep).collectFirst {
        case ((t, v), (_, Some(e))) if math.abs(v - e) > 1e-5 =>
          s"${q.kind}: value $v at $t, expected $e"
      }
    }.nextOption()
  }

  def check(q: ReadReq, body: Array[Byte]): Option[String] = q match {
    case r: RemoteRead => checkRead(r, body)
    case r: RangeRead => checkRange(r, body)
  }
}

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}
