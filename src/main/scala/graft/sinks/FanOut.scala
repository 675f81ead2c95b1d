package graft.sinks

import org.apache.spark.sql.DataFrame
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** S3: parallel multi-sink fan-out with per-sink error isolation
  * (reference: main.go:311-319 — goroutine per writer + WaitGroup;
  * main.go:396-406 — a failed sink only logs and counts, it never fails
  * the batch or the other sinks).
  *
  * The batch is persisted once so every sink reads the same materialized
  * data instead of recomputing the lineage per sink — the Spark analogue
  * of the reference handing the same `samples` slice to each goroutine.
  */
object FanOut {

  /** One sink's outcome ≙ sent/failed counters per remote plus the batch
    * send duration feeding the sent_batch_duration_seconds histogram
    * (reference: main.go:86-103, timed at main.go:397-399).
    */
  case class SinkOutcome(sink: String, sent: Long, failed: Long,
                         error: Option[String], durationSec: Double = 0.0)

  /** Run every sink against the same batch concurrently. A sink throwing
    * marks its own samples failed; the rest proceed.
    *
    * @param sinks (name, write) — write returns the number of samples it
    *              sent (typically `df.count()` worth after its own filters)
    */
  def fanOut(batch: DataFrame, sinks: Seq[(String, DataFrame => Long)],
             timeout: Duration = 10.minutes): Seq[SinkOutcome] =
    fanOutStats(batch,
      sinks.map { case (name, write) =>
        name -> ((df: DataFrame) => Transport.WriteStats(write(df), 0L, None))
      }, timeout)

  /** Stats-returning variant for sinks with PARTIAL-failure contracts
    * (e.g. OpenTSDB's 400-body failed/success split carried by
    * Transport.WriteStats); a throw still fails the sink's whole batch.
    */
  def fanOutStats(batch: DataFrame,
                  sinks: Seq[(String, DataFrame => Transport.WriteStats)],
                  timeout: Duration = 10.minutes): Seq[SinkOutcome] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    // persist only when MORE THAN ONE sink will read the batch — a
    // single-sink fan-out (the common server ingest) consumes it exactly
    // once, where the cache write is pure overhead
    val shared = sinks.size > 1
    if (shared) batch.persist()
    // the batch size is only REPORTED when a sink throws (failed=total);
    // computing it eagerly costs one full job per ingest batch that the
    // success path throws away — lazy keeps the failure contract intact
    // at zero cost to the happy path (optimization guide §1.2: don't
    // compute things you discard). The count itself can throw too (the
    // sink failure may BE a lineage/executor failure): the Try keeps a
    // throw from escaping a sink's Future — which would lose the other
    // sinks' outcomes and break the error-isolation contract (reference
    // main.go:396-406) — and, unlike a throwing lazy initializer, runs
    // the count job at most once however many sinks fail. -1 = size
    // unknown.
    lazy val total = scala.util.Try(batch.count()).getOrElse(-1L)
    try {
      val outcomes = sinks.map { case (name, write) =>
        Future {
          val begin = System.nanoTime()
          def secs: Double = (System.nanoTime() - begin) / 1e9
          try {
            val st = write(batch)
            SinkOutcome(name, st.sent, st.failed, st.error, secs)
          } catch {
            case e: Throwable =>
              SinkOutcome(name, 0L, total,
                Some(Option(e.getMessage).getOrElse(e.getClass.getName)), secs)
          }
        }
      }
      Await.result(Future.sequence(outcomes), timeout)
    } finally {
      if (shared) batch.unpersist()
      ()
    }
  }
}
