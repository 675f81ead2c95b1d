package perfbench

import graft.codec.{Prompb, WriteWire}
import graft.compile.Matchers
import graft.engine.{Admin, ReadPipeline, ResponseEdge, Tombstones, WritePipeline}
import org.apache.spark.perfbench.JobProbe
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed call. Spans of one request share `request`; a request's
  * own span has `parent = 0`. */
final case class Span(id: Long, parent: Long, name: String, request: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def json: String =
    s"""{"id":$id,"parent":$parent,"name":"$name","request":"$request",""" +
      s""""start_ns":$startNs,"end_ns":$endNs}"""
}

/** Keeps spans in memory; Spark jobs run inside a span are credited to
  * it through the [[JobProbe]] local property. */
final class Tracer(spark: SparkSession) {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L

  def spans: Seq[Span] = buf.toSeq

  def span[A](name: String, request: String, parent: Long = 0L)(f: Long => A): A = {
    val id = nextId
    nextId += 1
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(JobProbe.SpanKey)
    sc.setLocalProperty(JobProbe.SpanKey, id.toString)
    val t0 = System.nanoTime()
    try f(id)
    finally {
      buf += Span(id, parent, name, request, t0, System.nanoTime())
      sc.setLocalProperty(JobProbe.SpanKey, outer)
    }
  }

  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path, spans.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
}

/** The traced run: the same inputs replayed one request at a time
  * through each layer's public functions, a span around every call —
  * the calls `serve.Server` makes for `/write`, `/read` and
  * `query_range`. */
final class Replay(spark: SparkSession, tracer: Tracer, oracle: Oracle) {

  def write(b: Batch, store: String, request: String): Unit =
    tracer.span("write", request) { id =>
      val raw = tracer.span("codec.write_snappy", request, id)(_ => Prompb.snappyUncompress(b.body))
      val dec = tracer.span("codec.write_decode", request, id)(_ => WriteWire.decode(raw))
      val df = tracer.span("serve.to_df", request, id) { _ =>
        val rows = for (ts <- dec.scalars.timeseries; s <- ts.samples) yield {
          val labels = ts.labels.map(l => l.name -> l.value).toMap
          graft.model.Schema.Sample(labels.getOrElse("__name__", ""), labels, s.value, s.timestampMs)
        }
        import spark.implicits._
        (rows.toDF(), rows.size.toLong)
      }
      tracer.span("engine.append", request, id)(_ =>
        WritePipeline.append(WritePipeline.toMetricRows(WritePipeline.dropNonFinite(df._1)),
          store, rowsHint = df._2))
      tracer.span("engine.retention_sweep", request, id)(_ =>
        Admin.enforceRetention(store, Replay.RetentionSec, System.currentTimeMillis() / 1000))
    }

  private def resolve(store: String, request: String, parent: Long): DataFrame =
    tracer.span("engine.table_resolve", request, parent)(_ =>
      Tombstones.suppress(spark.read.parquet(store), Tombstones.load(spark, store)))

  /** Replays one read; returns (samples returned, first mismatch). */
  def read(q: ReadReq, store: String, request: String): (Long, Option[String]) = q match {
    case r: RemoteRead =>
      tracer.span("read", request) { id =>
        val rq = tracer.span("codec.read_decode", request, id)(_ =>
          Prompb.decodeReadRequest(Prompb.snappyUncompress(r.body)))
        val table = resolve(store, request, id)
        val df = tracer.span("engine.read_plan", request, id) { _ =>
          val pq = rq.queries.head
          ReadPipeline.readMulti(Seq(table), Matchers.PromQuery(pq.startMs, pq.endMs,
            pq.matchers.map(m => Matchers.LabelMatcher(m.matchType match {
              case Prompb.MatchType.EQ => Matchers.EQ
              case Prompb.MatchType.NEQ => Matchers.NEQ
              case Prompb.MatchType.RE => Matchers.RE
              case _ => Matchers.NRE
            }, m.name, m.value))))
        }
        val resp = tracer.span("engine.read_exec", request, id)(_ =>
          ResponseEdge.toReadResponse(Seq(df), Replay.MaxSeries))
        val body = tracer.span("codec.read_encode", request, id)(_ =>
          Prompb.snappyCompress(Prompb.encodeReadResponse(resp)))
        (resp.results.map(_.timeseries.map(_.samples.size.toLong).sum).sum, oracle.check(r, body))
      }
    case r: RangeRead =>
      tracer.span("query_range", request) { id =>
        val table = resolve(store, request, id)
        tracer.span("promql.parse", request, id)(_ => graft.promql.Parser.parse(r.query))
        val res = tracer.span("promql.plan", request, id)(_ =>
          graft.promql.Eval.rangeQuery(table, r.query,
            graft.promql.Eval.RangeSpec(r.startSec, r.endSec, r.stepSec)))
        val rows = tracer.span("promql.exec", request, id)(_ =>
          ResponseEdge.collectBoundedSeries(res, Replay.MaxSeries))
        (rows.map(_.getAs[scala.collection.Seq[Any]]("points").size.toLong).sum, None)
      }
  }
}

object Replay {
  /** The retention the live server runs with: a sweep on every commit
    * whose horizon drops nothing. */
  val RetentionSec: Long = 100L * 365 * Inputs.DaySec
  /** `serve.Server`'s default series budget. */
  val MaxSeries: Int = 500000
}
