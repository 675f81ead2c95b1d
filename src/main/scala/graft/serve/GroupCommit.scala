package graft.serve

import scala.util.{Failure, Success, Try}

/** Leader/follower group commit over an existing commit lock — the
  * commit amortisation of micro-batch streaming (Structured Streaming,
  * SIGMOD 2018), with no committer thread, no linger timer and no
  * setting.
  *
  * A caller queues its item, then takes `lock`. If its item was not yet
  * committed, it is the LEADER: it drains the queue (its own item and
  * every item queued while the previous holder was committing), runs
  * `commit` once over the whole group, and hands the outcome to every
  * member before releasing the lock. A FOLLOWER finds its outcome
  * already set when it gets the lock and returns it. So every caller
  * returns only after the commit that holds its item has finished.
  *
  * Failures stay per item: when the commit of a group of more than one
  * throws, the leader (still under the lock) commits each member alone,
  * so one item the commit rejects fails only its own caller, and a
  * failure that every commit hits (say, a full disk) fails each caller
  * with its own error. `commit` must therefore leave nothing behind
  * when it throws, as a Spark write job does when it aborts.
  *
  * The queue needs no bound: each queued item's caller is blocked in
  * [[submit]], so it holds at most one item per calling thread. Other
  * code may take `lock` too; it then simply serializes with the groups.
  */
private[graft] final class GroupCommit[A](lock: AnyRef)(commit: Seq[A] => Unit) {

  /** `outcome` is written by a leader while it holds `lock`, and read by
    * its owner under or after its own hold of `lock`, so the monitor
    * orders every write before the read. */
  private final class Slot(val item: A) { var outcome: Try[Unit] = _ }

  private val queue = new java.util.concurrent.ConcurrentLinkedQueue[Slot]()

  /** Items queued and not yet taken by a leader. */
  private[graft] def queued: Int = queue.size

  /** Commit `item` in some group; returns once that group committed,
    * or throws what its commit threw. */
  def submit(item: A): Unit = {
    val mine = new Slot(item)
    queue.add(mine)
    // a thread of a fork-join pool (the fan-out's sinks run on one) may
    // wait here for a whole commit: let the pool add a spare thread
    scala.concurrent.blocking {
      lock.synchronized {
        // an earlier leader drains and completes under the lock, so an
        // item still without an outcome is still in the queue
        if (mine.outcome == null) {
          val group = Iterator.continually(queue.poll())
            .takeWhile(_ != null).toVector
          def attempt(slots: Seq[Slot]): Try[Unit] =
            try Success(commit(slots.map(_.item)))
            catch { case e: Throwable => Failure(e) }
          attempt(group) match {
            case Failure(_) if group.size > 1 =>
              group.foreach(s => s.outcome = attempt(Seq(s)))
            case outcome => group.foreach(_.outcome = outcome)
          }
        }
      }
    }
    mine.outcome.get
  }
}
