package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

/** The locked shuffle-partition scope behind [[Parts]]: overlapping
  * scopes on two threads never see or restore each other's value,
  * nested scopes unwind in order, a throwing body restores and releases,
  * and a capped run cancelled while it waits for the lock never sets
  * the value. Every wait has a timeout, so a broken lock fails the spec
  * instead of hanging it.
  */
class ConfScopeSpec extends SparkSpec {

  private def current: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  private def thread(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.setDaemon(true)
    t.start()
    t
  }

  test("overlapping scopes on two threads neither see nor restore each other's value") {
    val original = current
    assert(original >= 2, s"the spec session must allow n=2, has $original")
    val aEntered, bEntered, aDone = new CountDownLatch(1)
    var aOnEntry, aAfterWait = -1
    val a = thread {
      Parts.sizedByRows(spark, 200000L) { // n = 2
        aOnEntry = current
        aEntered.countDown()
        // B enters its scope now unless the lock keeps it out
        bEntered.await(500, TimeUnit.MILLISECONDS)
        aAfterWait = current
      }
      aDone.countDown()
    }
    assert(aEntered.await(10, TimeUnit.SECONDS))
    val b = thread {
      Parts.sizedByRows(spark, 100000L) { // n = 1
        bEntered.countDown()
        // restore after A's scope has restored: the lost-update order
        aDone.await(10, TimeUnit.SECONDS)
      }
    }
    a.join(20000)
    b.join(20000)
    assert(!a.isAlive && !b.isAlive)
    assert(aOnEntry == 2)
    assert(aAfterWait == aOnEntry, "another thread's scope changed the count inside A's body")
    assert(current == original, "overlapping scopes left the session at the wrong count")
  }

  test("a nested scope restores the outer value, then the outer scope the original") {
    val original = current
    Parts.sizedByRows(spark, 300000L) {
      val outer = current
      assert(outer == math.min(3, original))
      Parts.sizedByRows(spark, 100000L) { assert(current == 1) }
      assert(current == outer)
    }
    assert(current == original)
  }

  test("a throwing body restores the value and releases the lock") {
    val original = current
    intercept[IllegalStateException] {
      Parts.sizedByRows(spark, 100000L) { throw new IllegalStateException("boom") }
    }
    assert(current == original)
    val entered = new CountDownLatch(1)
    val t = thread { Parts.sizedByRows(spark, 100000L) { entered.countDown() } }
    assert(entered.await(10, TimeUnit.SECONDS), "another thread must be able to take the scope")
    t.join(10000)
    assert(current == original)
  }

  test("a capped run waiting for the lock returns Dnf, unwinds, and never sets the value") {
    val original = current
    val held, release = new CountDownLatch(1)
    val holder = thread {
      Parts.sizedByRows(spark, 200000L) { // n = 2
        held.countDown()
        release.await(60, TimeUnit.SECONDS)
      }
    }
    assert(held.await(10, TimeUnit.SECONDS))
    val ran = new AtomicBoolean(false)
    try {
      val t0 = System.nanoTime()
      val r = Runner.run(spark, "conf_scope_waiting", 1) {
        Parts.sizedByRows(spark, 100000L) { ran.set(true) }
      }
      assert(r == Runner.Dnf)
      // the interrupt frees the waiter; an uninterruptible wait would
      // sit out the runner's 30 s unwind window and count as leaked
      assert((System.nanoTime() - t0) / 1e9 < 10)
      assert(Runner.safeToClearCache())
      assert(current == 2, "the cancelled scope must never set the value")
    } finally release.countDown()
    holder.join(10000)
    assert(!ran.get)
    assert(current == original)
  }
}
