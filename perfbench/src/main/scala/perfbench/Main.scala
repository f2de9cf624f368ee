package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload run measured. `e2e` and `layers` map metric names to
 * values; `details` carries everything else worth keeping in the record
 * (sample counts, percentiles, sizes). */
final case class Outcome(attempted: Long, failed: Long,
                         e2e: Map[String, Double],
                         layers: Map[String, Double],
                         details: Map[String, Any])

final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val seconds: Double, val root: Path, val dataDir: Path,
                val indexDir: Path, val gateLayers: Path) {
  /** A fresh directory under the run root; the launcher removes the root. */
  def dir(name: String): String = {
    val d = root.resolve(name)
    Util.rmTree(d)
    Files.createDirectories(d.getParent)
    d.toString
  }
}

/**
 * Benchmark driver: one workload, one process, one closed-loop client
 * thread. Invoked by `perfbench/run.py`, which builds the classpath, owns the
 * per-run directory and prints the result line.
 *
 * Arguments: --workload search|gates --seed N --seconds S --trace 0|1
 * --root DIR --out FILE --data DIR --index DIR --gate-layers FILE.
 * `--prepare DIR` instead writes the search corpus and its indexes to DIR.
 */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("prepare")) return prepare(a("prepare"))
    val workload: Workload = a("workload") match {
      case "search" => Search
      case "gates"  => Gates
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val trace = a("trace") == "1"
    val root = Paths.get(a("root")).toAbsolutePath
    val controlStartMs = Host.controlLoopMs()
    val cpu0 = Host.cpuTicks()
    val gc0 = Host.gcSeconds()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(s"perfbench-${a("workload")}", root)
    val sessionReadyS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, tracer, a("seed").toLong, a("seconds").toDouble, root,
      Paths.get(a("data")).toAbsolutePath, Paths.get(a("index")).toAbsolutePath,
      Paths.get(a("gate-layers")).toAbsolutePath)
    val out = workload.run(ctx)
    tracer.drain()
    val controlEndMs = Host.controlLoopMs()
    val stealShare = Host.stealShare(cpu0, Host.cpuTicks())
    val gcS = Host.gcSeconds() - gc0
    val rssPeakMb = Host.rssPeakMb()
    val heapLiveMb = Host.liveHeapMb()
    val traced =
      if (!trace) Map.empty[String, Double]
      else {
        val jobs = tracer.jobsBySpan
        val all = jobs.values.map(_.size).sum
        val measured = tracer.allSpans.filter(_.parent == 0).map(_.seconds).sum
        Map(
          "jvm.gc_s" -> gcS,
          "jvm.rss_peak_mb" -> rssPeakMb,
          "jvm.heap_live_mb" -> heapLiveMb,
          "spark.storage_peak_bytes" -> tracer.storagePeakBytes.toDouble,
          "trace.unattributed_job_share" ->
            (if (all == 0) 0.0 else jobs.getOrElse(0L, Nil).size.toDouble / all),
          "trace.overhead_ratio" -> (if (measured > 0) tracer.overheadSeconds / measured else 0.0))
      }
    val record = Map(
      "workload" -> a("workload"), "seed" -> ctx.seed, "trace" -> trace,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "e2e" -> out.e2e,
      "layers" -> (if (trace) out.layers ++ traced else Map.empty),
      "details" -> out.details,
      "phase_s" -> (Seq("jvm_and_session" -> sessionReadyS) ++ tracer.phaseSeconds).toMap,
      "host" -> Map(
        "nproc" -> cpus,
        "rss_peak_mb" -> rssPeakMb,
        "heap_live_mb" -> heapLiveMb,
        "mem_total_mb" -> Host.memTotalMb(),
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1L << 20),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "control_loop_ms_start" -> controlStartMs,
        "control_loop_ms_end" -> controlEndMs,
        "cpu_steal_share" -> stealShare),
      "spans" -> (if (trace) spanRecords(tracer.allSpans) else Nil))
    spark.stop()
    Files.writeString(Paths.get(a("out")), Json.write(record) + "\n")
  }

  /** Spans as records; `self_s` is the span minus its child spans (one
   * client thread, so children never overlap). */
  def spanRecords(spans: Seq[Span]): Seq[Map[String, Any]] = {
    val childS = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.sortBy(_.startNs).map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
      "phase" -> s.phase, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "s" -> s.seconds, "self_s" -> (s.seconds - childS.getOrElse(s.id, 0.0))))
  }

  /** Local session of nproc cores, shuffle partitions = nproc, AQE on, UTC,
   * UI off; Spark's scratch space under the run directory `root`. */
  def session(name: String, root: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .appName(name)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def prepare(dir: String): Unit = {
    val root = Paths.get(dir).toAbsolutePath
    val spark = session("perfbench-prepare", root.resolve("scratch"))
    try IndexSetup.prepare(spark, root.toString)
    finally spark.stop()
    Util.rmTree(root.resolve("scratch"))
  }
}

trait Workload {
  def run(ctx: Ctx): Outcome
}

object Host {
  /** Fixed single-thread integer loop; its time at the start and the end of
   * a run shows host drift inside the record. */
  def controlLoopMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) println("") // keeps the loop live
    (System.nanoTime() - t0) / 1e6
  }

  /** The machine-wide `cpu` line of /proc/stat: ticks per state. */
  def cpuTicks(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty)

  /** Share of CPU time between two samples that the hypervisor gave to
   * other guests (the `steal` state): load from outside the machine. */
  def stealShare(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      val total = (0 until 8).map(i => b(i) - a(i)).sum
      if (total <= 0) 0.0 else (b(7) - a(7)).toDouble / total
    }

  private def procField(file: String, key: String): Double =
    Files.readAllLines(Paths.get(file)).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  def rssPeakMb(): Double = procField("/proc/self/status", "VmHWM") / 1024.0

  /** Heap still in use after full collections: what the workload leaves
   * resident (cached derivations, indexes held by the session). */
  def liveHeapMb(): Double = {
    System.gc()
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def memTotalMb(): Double = procField("/proc/meminfo", "MemTotal") / 1024.0

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
}

object Util {
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** A timing summary: median, sample count, and the highest of p90/p95/p99
   * that has at least ten samples beyond it. */
  def summary(xs: Seq[Double]): Map[String, Any] = {
    val base = Map[String, Any]("n" -> xs.size, "p50" -> median(xs))
    Seq(0.99 -> "p99", 0.95 -> "p95", 0.9 -> "p90")
      .find { case (q, _) => xs.size * (1 - q) >= 10 }
      .fold(base) { case (q, name) => base + (name -> quantile(xs, q)) }
  }

  /** Bytes of the data files under `dir` (hidden checksum files excluded). */
  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .map(Files.size).sum
      finally s.close()
    }
  }

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Order-insensitive 64-bit hash of collected rows: each row's rendering
   * is hashed on its own and the row hashes are summed. */
  def rowsHash(rows: Seq[org.apache.spark.sql.Row]): String = {
    var h = 0L
    rows.foreach { r =>
      val s = r.toSeq.map(v => if (v == null) "\u0000" else render(v)).mkString("\u0001")
      val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x5EED)
      val b = scala.util.hashing.MurmurHash3.stringHash(s, 0xC0FFEE)
      h += (a.toLong << 32) ^ (b.toLong & 0xFFFFFFFFL)
    }
    f"$h%016x"
  }

  private def render(v: Any): String = v match {
    case r: org.apache.spark.sql.Row => r.toSeq.map(x => if (x == null) "null" else render(x)).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(x => if (x == null) "null" else render(x)).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}->${if (x == null) "null" else render(x)}" }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }
}

/** Minimal JSON writer for the result record. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) -> write(x) }.sortBy(_._1)
        .map { case (k, x) => s"$k:$x" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
