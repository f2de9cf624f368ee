package graft.driver

import java.nio.file.{Files, Path}
import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/**
 * Memo of shared derivations keyed by `(kind, dir)`. The first caller claims
 * a key with `putIfAbsent` and computes its value outside the map, so a
 * derivation may use other derivations of the same memo (a recursive
 * `ConcurrentHashMap.compute*` would throw); later callers wait for that
 * computation. Each computation is logged with its kind, dir and seconds.
 * A failed entry is removed only if it is still that entry: waiters rethrow
 * the failure, the next call recomputes.
 */
final class Derivations(log: String => Unit = msg => System.err.println(s"[derivations] $msg")) {

  private final class Entry(val cleanup: Any => Unit) {
    val future = new CompletableFuture[Any]()
  }

  private val entries = new ConcurrentHashMap[(String, String), Entry]()

  /** The value of `(kind, dir)`, computed by `mk` in this thread if no one
   * has claimed it. */
  def apply[A](kind: String, dir: String)(mk: => A): A = apply[A](kind, dir, (_: A) => ())(mk)

  /** [[apply]] for a value that [[release]] later hands to `cleanup`. */
  def apply[A](kind: String, dir: String, cleanup: A => Unit)(mk: => A): A = {
    val mine = new Entry(cleanup.asInstanceOf[Any => Unit])
    val e = entries.putIfAbsent((kind, dir), mine) match {
      case null => compute(kind, dir, mine)(mk); mine
      case other => other
    }
    try e.future.join().asInstanceOf[A]
    catch { case c: CompletionException => throw c.getCause }
  }

  /** [[apply]] for a value built into a fresh temp dir, which [[release]]
   * deletes (as does a failed build). */
  def inTempDir[A](kind: String, dir: String, prefix: String)(mk: String => A): A =
    inTempDir(kind, dir, prefix, (_: A) => ())(mk)

  /** [[inTempDir]], with [[release]] handing the value to `cleanup` before
   * it deletes the dir. */
  def inTempDir[A](kind: String, dir: String, prefix: String, cleanup: A => Unit)(
      mk: String => A): A =
    apply(kind, dir, (built: (A, Path)) => try cleanup(built._1) finally rmTree(built._2)) {
      val tmp = Files.createTempDirectory(prefix)
      try (mk(tmp.toString), tmp) catch { case e: Throwable => rmTree(tmp); throw e }
    }._1

  /** Unless `(kind, dir)` is claimed, claims it and runs `chain` on a fresh
   * daemon thread, which inherits the caller's Spark local properties (job
   * labels). `kind` names the chain, not a derivation the chain computes. */
  def prefetch(kind: String, dir: String)(chain: => Any): Unit = {
    val mine = new Entry(_ => ())
    if (entries.putIfAbsent((kind, dir), mine) == null) {
      val t = new Thread(() => compute(kind, dir, mine)(chain), s"graft-$kind")
      t.setDaemon(true)
      t.start()
    }
  }

  /** Waits until no entry of `dir` is running, including entries that
   * running ones register meanwhile. Must not be called from inside a
   * derivation of `dir`, which would wait for itself. */
  def awaitAll(dir: String): Unit = awaitWhere(_._2 == dir)

  /** Waits for every entry, then removes each and runs its cleanup once. */
  def release(): Unit = {
    awaitWhere(_ => true)
    entries.forEach { (k, e) =>
      if (entries.remove(k, e))
        try e.cleanup(e.future.join()) catch {
          case _: CompletionException => ()
          case NonFatal(t) => log(s"cleanup of ${k._1} for ${k._2} failed: $t")
        }
    }
  }

  private def compute(kind: String, dir: String, e: Entry)(mk: => Any): Unit = {
    val t0 = System.nanoTime()
    def secs = (System.nanoTime() - t0) / 1e9
    val v = try mk catch { case t: Throwable =>
      entries.remove((kind, dir), e)
      log(f"$kind for $dir failed after $secs%.2f s: $t")
      e.future.completeExceptionally(t)
      return
    }
    e.future.complete(v)
    log(f"$kind for $dir took $secs%.2f s")
  }

  @annotation.tailrec
  private def awaitWhere(p: ((String, String)) => Boolean): Unit = {
    val running = entries.asScala.collect { case (k, e) if p(k) && !e.future.isDone => e.future }
    if (running.nonEmpty) {
      running.foreach(f => try f.join() catch { case _: CompletionException => () })
      awaitWhere(p)
    }
  }

  private def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
