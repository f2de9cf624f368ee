package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.index.IndexBuild

/** `IndexBuild.alongside`, the background-job helper under the index
 * build's docs stage and the fielded index's dict stage — Spark-free. */
class AlongsideSpec extends AnyFunSuite {

  /** A background job that finishes well after the foreground, recording it. */
  private def slow(done: AtomicBoolean, failWith: Option[Throwable] = None): () => Unit = () => {
    Thread.sleep(300)
    done.set(true)
    failWith.foreach(e => throw e)
  }

  test("the background job is joined before alongside returns or throws") {
    val done = new AtomicBoolean(false)
    assert(IndexBuild.alongside(slow(done), "test-bg")(42) == 42)
    assert(done.get, "returned before the background job finished")

    val done2 = new AtomicBoolean(false)
    intercept[IllegalStateException] {
      IndexBuild.alongside(slow(done2), "test-bg")(throw new IllegalStateException("fg"))
    }
    assert(done2.get, "threw before the background job finished")
  }

  test("a background-only failure is thrown after the foreground completes") {
    val done = new AtomicBoolean(false)
    val fgRan = new AtomicBoolean(false)
    val e = intercept[IllegalArgumentException] {
      IndexBuild.alongside(slow(done, Some(new IllegalArgumentException("bg"))), "test-bg") {
        fgRan.set(true)
      }
    }
    assert(e.getMessage == "bg" && fgRan.get && done.get)
  }

  test("both fail: the foreground failure is thrown, the background one suppressed onto it") {
    val done = new AtomicBoolean(false)
    val bg = new IllegalArgumentException("bg")
    val e = intercept[IllegalStateException] {
      IndexBuild.alongside(slow(done, Some(bg)), "test-bg")(throw new IllegalStateException("fg"))
    }
    assert(e.getMessage == "fg")
    assert(e.getSuppressed.toSeq == Seq(bg))
  }
}
