package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.driver.Derivations

/** The driver's memo of shared derivations, without Spark: latches fix the
 * interleavings, `join(ms)` + `isAlive` checks that a call is still blocked. */
class DerivationsSpec extends AnyFunSuite {

  private def latch() = new CountDownLatch(1)
  private def await(l: CountDownLatch): Unit = assert(l.await(10, TimeUnit.SECONDS), "latch timed out")
  private def fork(body: => Unit): Thread = { val t = new Thread(() => body); t.start(); t }
  private def finish(t: Thread): Unit = { t.join(10000); assert(!t.isAlive, "thread did not finish") }
  private def stillBlocked(t: Thread): Boolean = { t.join(200); t.isAlive }

  test("two concurrent claims compute once") {
    val d = new Derivations(_ => ())
    val calls = new AtomicInteger
    val started, go = latch()
    @volatile var a, b = 0
    val ta = fork { a = d("k", "dir") { calls.incrementAndGet(); started.countDown(); await(go); 7 } }
    await(started)
    val tb = fork { b = d("k", "dir") { calls.incrementAndGet(); 8 } }
    assert(stillBlocked(tb))
    go.countDown()
    finish(ta); finish(tb)
    assert((a, b, calls.get) == ((7, 7, 1)))
  }

  test("a derivation may use another derivation of the same memo") {
    val d = new Derivations(_ => ())
    assert(d("outer", "dir")(d("inner", "dir")(1) + 1) == 2)
    assert(d("inner", "dir")(99) == 1)
  }

  test("a call after a failure recomputes") {
    val d = new Derivations(_ => ())
    intercept[IllegalStateException](d[Int]("k", "dir")(throw new IllegalStateException("boom")))
    assert(d("k", "dir")(5) == 5)
    assert(d("k", "dir")(6) == 5)
  }

  test("a waiter still holding an old failed future does not evict a newer claim") {
    val started, fail, removed, newStarted, newGo = latch()
    // the failing claimant logs after dropping its entry and before it
    // releases its waiters: hold it there until a newer claim is in place
    val d = new Derivations(_ => { removed.countDown(); await(newStarted) })
    @volatile var waiterErr: Throwable = null
    val ta = fork {
      try d[Int]("k", "dir") { started.countDown(); await(fail); throw new IllegalStateException("old") }
      catch { case _: IllegalStateException => () }
    }
    await(started)
    val tb = fork {
      try d("k", "dir")(-1) catch { case e: Throwable => waiterErr = e }
    }
    assert(stillBlocked(tb))
    fail.countDown()
    await(removed)
    @volatile var c = 0
    val tc = fork { c = d("k", "dir") { newStarted.countDown(); await(newGo); 3 } }
    finish(ta)
    finish(tb)
    assert(waiterErr.isInstanceOf[IllegalStateException] && waiterErr.getMessage == "old")
    newGo.countDown()
    finish(tc)
    assert(c == 3)
    assert(d("k", "dir")(4) == 3, "the newer claim was evicted")
  }

  test("a background failure is logged with its kind, dir and seconds") {
    val logged = new ConcurrentLinkedQueue[String]
    val d = new Derivations(m => logged.add(m))
    d.prefetch("chain", "dirX")(throw new IllegalStateException("boom"))
    d.awaitAll("dirX")
    val msgs = logged.asScala.toSeq
    assert(msgs.size == 1)
    assert(msgs.head.matches("chain for dirX failed after \\d+\\.\\d{2} s: .*IllegalStateException: boom"), msgs.head)
    assert(d("ok", "dirX")(7) == 7)
    assert(d("ok", "dirX")(8) == 7)
    val after = logged.asScala.toSeq
    assert(after.size == 2, after)
    assert(after(1).matches("ok for dirX took \\d+\\.\\d{2} s"), after(1))
  }

  test("awaitAll waits for entries that a chain registers while it runs") {
    val d = new Derivations(_ => ())
    val chainGo, chainDone, innerGo = latch()
    @volatile var innerRan = false
    d.prefetch("chain", "dir") {
      await(chainGo)
      d.prefetch("inner", "dir") { await(innerGo); innerRan = true }
      chainDone.countDown()
    }
    val w = fork(d.awaitAll("dir"))
    assert(stillBlocked(w))
    chainGo.countDown()
    await(chainDone)
    assert(stillBlocked(w))
    innerGo.countDown()
    finish(w)
    assert(innerRan)
  }

  test("release waits for in-flight entries and runs each cleanup exactly once") {
    val d = new Derivations(_ => ())
    val cleaned = new ConcurrentLinkedQueue[Int]
    d("done", "dir", (v: Int) => cleaned.add(v))(1)
    val started, go = latch()
    val builder = fork(d("running", "dir", (v: Int) => cleaned.add(v)) { started.countDown(); await(go); 2 })
    await(started)
    val releasers = Seq(fork(d.release()), fork(d.release()))
    releasers.foreach(r => assert(stillBlocked(r)))
    assert(cleaned.isEmpty)
    go.countDown()
    finish(builder)
    releasers.foreach(finish)
    d.release()
    assert(cleaned.asScala.toSeq.sorted == Seq(1, 2))
    assert(d("done", "dir")(10) == 10, "a released entry is computed afresh")
  }

  test("inTempDir: release deletes the dir; a failed build deletes it at once") {
    val d = new Derivations(_ => ())
    val dir = d.inTempDir("idx", "dir", "graft-derivations-spec") { tmp =>
      Files.writeString(Paths.get(tmp, "part"), "x"); tmp
    }
    assert(Files.exists(Paths.get(dir, "part")))
    d.release()
    assert(!Files.exists(Paths.get(dir)))
    @volatile var failedDir: String = null
    intercept[IllegalStateException](d.inTempDir[Unit]("idx", "dir", "graft-derivations-spec") { tmp =>
      failedDir = tmp; throw new IllegalStateException("boom")
    })
    assert(!Files.exists(Paths.get(failedDir)))
  }

  test("inTempDir: release hands the value to its cleanup while the dir still exists") {
    val d = new Derivations(_ => ())
    @volatile var seen: (String, Boolean) = null
    val dir = d.inTempDir("idx", "dir", "graft-derivations-spec",
      (v: String) => seen = (v, Files.exists(Paths.get(v))))(identity)
    assert(seen == null)
    d.release()
    assert(seen == ((dir, true)))
    assert(!Files.exists(Paths.get(dir)))
  }
}
