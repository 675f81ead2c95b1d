package graft

import graft.serve.GroupCommit
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The leader/follower group commit behind `/write`, driven with a fake
  * commit that blocks on a latch, so every grouping is forced, not
  * timed.
  */
class GroupCommitSpec extends AnyFunSuite {

  /** A fake commit: records each group, blocks its FIRST call on
    * `release`, throws for groups containing `poison` and for every
    * group while `broken` is set, and marks items done only after the
    * (possibly blocked) work has finished. */
  private class Fake(poison: Int = -1) {
    val lock = new Object
    @volatile var broken = false
    val groups = new ConcurrentLinkedQueue[Seq[Int]]()
    val done = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val gc = new GroupCommit[Int](lock)({ items =>
      groups.add(items)
      if (groups.size == 1) {
        entered.countDown()
        assert(release.await(30, TimeUnit.SECONDS))
      }
      if (broken) throw new IllegalStateException("disk full")
      if (items.contains(poison))
        throw new IllegalArgumentException(s"bad item $poison")
      items.foreach(done.add)
    })
  }

  private def awaitQueued(gc: GroupCommit[Int], n: Int): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (gc.queued < n) {
      assert(System.nanoTime() < deadline, s"only ${gc.queued} of $n queued")
      Thread.sleep(5)
    }
  }

  private def withPool[T](n: Int)(f: java.util.concurrent.ExecutorService => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try f(pool) finally pool.shutdownNow()
  }

  /** Submit `item`; the future yields whether the item was committed
    * when `submit` returned, or the exception it threw. */
  private def submit(pool: java.util.concurrent.ExecutorService, f: Fake,
                     item: Int): java.util.concurrent.Future[Either[Throwable, Boolean]] =
    pool.submit(new Callable[Either[Throwable, Boolean]] {
      def call(): Either[Throwable, Boolean] =
        try { f.gc.submit(item); Right(f.done.contains(item)) }
        catch { case e: Throwable => Left(e) }
    })

  test("callers queued behind a running commit share exactly one next " +
       "commit") {
    val f = new Fake()
    val k = 5
    withPool(k + 1) { pool =>
      val first = submit(pool, f, 0)
      assert(f.entered.await(30, TimeUnit.SECONDS))
      val rest = (1 to k).map(i => submit(pool, f, i))
      awaitQueued(f.gc, k)
      assert(rest.forall(!_.isDone), "no caller returns while its group waits")
      f.release.countDown()
      (first +: rest).foreach(r =>
        assert(r.get(30, TimeUnit.SECONDS) == Right(true),
          "returned only after the commit holding its item finished"))
      assert(f.groups.asScala.toList.map(_.sorted) ==
        List(Seq(0), (1 to k).toList))
      assert(f.gc.queued == 0)
    }
  }

  test("no caller returns before the commit holding its item finished, " +
       "over many unforced groups") {
    val f = new Fake()
    f.release.countDown()
    withPool(8) { pool =>
      val all = (0 until 200).map(i => submit(pool, f, i))
      all.foreach(r => assert(r.get(30, TimeUnit.SECONDS) == Right(true)))
    }
    val committed = f.groups.asScala.toList.flatten
    assert(committed.sorted == (0 until 200).toList,
      "every item committed exactly once")
  }

  test("a commit that rejects one item fails only that item's caller; " +
       "the rest of its group and the next group commit") {
    val f = new Fake(poison = 3)
    val k = 4
    withPool(k + 2) { pool =>
      val first = submit(pool, f, 0)
      assert(f.entered.await(30, TimeUnit.SECONDS))
      val group = (1 to k).map(i => submit(pool, f, i))
      awaitQueued(f.gc, k)
      f.release.countDown()
      assert(first.get(30, TimeUnit.SECONDS) == Right(true))
      group.zip(1 to k).foreach { case (r, i) =>
        val out = r.get(30, TimeUnit.SECONDS)
        if (i == 3) assert(out.swap.exists(_.getMessage == "bad item 3"), out)
        else assert(out == Right(true), s"item $i: $out")
      }
      assert(submit(pool, f, 99).get(30, TimeUnit.SECONDS) == Right(true))
    }
    // the failed group is recommitted one member at a time
    val groups = f.groups.asScala.toList
    assert(groups.head == Seq(0) && groups.last == Seq(99))
    assert(groups(1).sorted == (1 to k).toList)
    assert(groups.slice(2, 2 + k).sortBy(_.head) == (1 to k).map(Seq(_)))
    assert(groups.size == 3 + k)
    assert(f.done.asScala.toSet == Set(0, 1, 2, 4, 99))
  }

  test("a commit that always throws fails every caller in its group; " +
       "the next group still commits") {
    val f = new Fake()
    val k = 4
    withPool(k + 2) { pool =>
      val first = submit(pool, f, 0)
      assert(f.entered.await(30, TimeUnit.SECONDS))
      val group = (1 to k).map(i => submit(pool, f, i))
      awaitQueued(f.gc, k)
      f.broken = true
      f.release.countDown()
      (first +: group).foreach { r =>
        val out = r.get(30, TimeUnit.SECONDS)
        assert(out.swap.exists(_.getMessage == "disk full"), out)
      }
      f.broken = false
      assert(submit(pool, f, 99).get(30, TimeUnit.SECONDS) == Right(true))
    }
    // the group of k, then each of its members alone, then the next group
    val groups = f.groups.asScala.toList
    assert(groups.head == Seq(0) && groups.last == Seq(99))
    assert(groups(1).sorted == (1 to k).toList)
    assert(groups.slice(2, 2 + k).sortBy(_.head) == (1 to k).map(Seq(_)))
    assert(groups.size == 3 + k)
    assert(f.done.asScala.toSet == Set(99))
  }

  test("other holders of the lock serialize with the groups") {
    val f = new Fake()
    f.release.countDown()
    withPool(3) { pool =>
      val r = f.lock.synchronized {
        val pending = (1 to 3).map(i => submit(pool, f, i))
        awaitQueued(f.gc, 3)
        assert(f.groups.isEmpty)
        pending
      }
      r.foreach(x => assert(x.get(30, TimeUnit.SECONDS) == Right(true)))
    }
    assert(f.groups.asScala.toList.map(_.sorted) == List(Seq(1, 2, 3)))
  }
}
