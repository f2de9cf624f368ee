package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.driver.DriverQueries

/**
 * `gates`: a fixed set of `SparkEntry.queries` gates over the fixed driver
 * tables in the benchmark's data directory. A tiny corpus, cached
 * derivations and many short jobs at the dispatch floor: the same `index`
 * and `query` layers as the other workload used differently, and the only
 * workload for `stats`, `eval`, `train`, `pipeline`, `streaming`, `ltr` and
 * `driver`. The seed only sets the gate order.
 */
object Gates extends Workload {
  val MinPasses = 2
  /** The timed gate set: for each of the packages `analysis`, `stats`,
   * `query`, `eval`, `train`, `pipeline` and `ltr`, the cheapest gate whose
   * spec calls into it (by median gate time over ten full passes of all 73
   * gates), plus `r3c_fielded_bmw`, which reads the fielded block-max
   * index. One warm pass takes 2-2.6 s, so a run affords an untimed
   * warm-up pass and two timed passes. */
  val Selected: Seq[String] = Seq(
    "a10_qpp_terms", "g1_stem_golden", "g2_kstem_golden", "l1_ltr_features",
    "r3c_fielded_bmw", "r6_spam_rerank", "sw1_stopword_histogram", "x3_fingerprint")
  /** Gates that take 2-3 s each, run once and only in the traced run, after
   * the timed passes: `d3_minhash_lsh` (the MinHash-LSH target) and
   * `st1_stream_dedup`, the cheapest gate calling `streaming`. Their
   * per-layer figures count as one pass of their own. */
  val Probes: Seq[String] = Seq("d3_minhash_lsh", "st1_stream_dedup")
  val Packages = Seq("analysis", "stats", "query", "eval", "train", "pipeline", "streaming", "ltr")

  /** The shared derivations, warmed in the order `graft.Bench` warms them. */
  val Warmups: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "termDocs" -> DriverQueries.termDocs,
    "docs" -> DriverQueries.docs,
    "dict" -> DriverQueries.dict,
    "corpusStats" -> DriverQueries.corpusStats,
    "index" -> DriverQueries.index,
    "fielded_split" -> ((s, d) => DriverQueries.fieldedIndex(s, d, "split")),
    "fielded_natural" -> ((s, d) => DriverQueries.fieldedIndex(s, d, "natural")),
    "fielded_blocks" -> ((s, d) => DriverQueries.fieldedBlockIndex(s, d, "split")))

  /** `gate<TAB>rows<TAB>hash` lines recorded once from a known-good commit. */
  def readRef(ctx: Ctx): Map[String, (Long, String)] =
    Files.readAllLines(ctx.dataDir.resolveSibling("gates_ref.tsv")).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t')).map(a => a(0) -> (a(1).toLong, a(2))).toMap

  /** `gate<TAB>pkg,pkg` lines: the engine packages each gate's spec calls. */
  def readLayers(ctx: Ctx): Map[String, Set[String]] =
    Files.readAllLines(ctx.gateLayers).asScala.filter(_.nonEmpty)
      .map(_.split('\t')).map(a => a(0) -> a.lift(1).fold(Set.empty[String])(_.split(',').toSet))
      .toMap

  final case class GateRun(name: String, rows: Long, hash: String, seconds: Double, ok: Boolean)

  def run(ctx: Ctx): Outcome = {
    val t = ctx.tracer
    val spark = ctx.spark
    val dir = ctx.dataDir.toString
    val ref = readRef(ctx)
    val layersOf = readLayers(ctx)

    // Set-up, once: the memo warm-up. A second one (after
    // DriverQueries.releaseCaches) would cost as much again, which the run
    // budget cannot afford.
    val setupS = t.span("setup", phase = "setup") {
      Util.time(Warmups.foreach { case (name, f) =>
        t.span(s"driver.warmup.$name", "setup")(f(spark, dir))
      })._2
    }

    System.gc() // set-up garbage is not the measured pass's to collect
    val rng = new scala.util.Random(ctx.seed)
    val runs = scala.collection.mutable.ArrayBuffer.empty[GateRun]
    var passes = 0
    val passSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]
    def lookup(gs: Seq[String]) = gs.map(g => g -> SparkEntry.queries.getOrElse(g,
      throw new NoSuchElementException(s"gate $g is not in SparkEntry.queries")))
    def runGate(name: String, fn: (SparkSession, String) => DataFrame): GateRun = {
      val (r, s) = Util.time(t.span("gate", name) {
        try {
          val rows = fn(spark, dir).collect().toSeq
          Some((rows.size.toLong, Util.rowsHash(rows)))
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] gate $name failed: $e")
          None
        }
      })
      r match {
        case Some((n, h)) => GateRun(name, n, h, s, ref.get(name).contains((n, h)))
        case None => GateRun(name, -1, "", s, ok = false)
      }
    }
    val selected = lookup(Selected)
    // Warm-up: one untimed pass. The first pass after set-up runs each
    // gate's plans for the first time and takes about 40 % longer.
    val warm = t.span("warmup", phase = "warmup") {
      rng.shuffle(selected).map { case (name, fn) => runGate(name, fn) }
    }
    // Passes until the next one would end after --seconds, at least MinPasses.
    t.span("measure", phase = "measure") {
      val t0 = System.nanoTime()
      while (passes < MinPasses ||
          (System.nanoTime() - t0) / 1e9 + passSeconds.last <= ctx.seconds) {
        val order = rng.shuffle(selected)
        passSeconds += Util.time(order.foreach { case (name, fn) => runs += runGate(name, fn) })._2
        passes += 1
      }
    }
    val probes =
      if (!t.enabled) Seq.empty[GateRun]
      else t.span("probe", phase = "probe")(lookup(Probes).map { case (n, fn) => runGate(n, fn) })
    val checked = warm ++ runs.toSeq ++ probes
    checked.filterNot(_.ok).foreach(g => System.err.println(
      s"[perfbench] gate ${g.name}: rows=${g.rows} hash=${g.hash}, reference ${ref.get(g.name)}"))

    // each gate call counted at its gate's median time over the timed passes
    val medianS = runs.groupBy(_.name).map { case (n, rs) => n -> Util.median(rs.map(_.seconds).toSeq) }
    val gateMs = runs.map(_.seconds * 1000).toSeq
    val e2e = Map(
      "setup_s" -> setupS,
      "items_per_s" -> runs.size / runs.map(g => medianS(g.name)).sum,
      // a pass of the gate set is this workload's request, as an 8-topic
      // batch is the search workload's: a single short gate's latency is
      // at the dispatch floor and moves 2x between runs
      "op_ms.p50" -> Util.median(passSeconds.map(_ * 1000).toSeq))
    val layers =
      if (!t.enabled) Map.empty[String, Double]
      else {
        val v = new TraceView(t)
        // timed gates per pass, plus the probe gates (one pass of their own)
        val gates = v.calls("gate")
        val probed = v.calls("gate", "probe")
        def perPass(f: Span => Double, keep: Span => Boolean = _ => true) =
          gates.filter(keep).map(f).sum / passes + probed.filter(keep).map(f).sum
        val byPackage = Packages.flatMap { p =>
          val keep = (s: Span) => layersOf.getOrElse(s.request, Set.empty)(p)
          Seq(
            s"$p.gates_s" -> perPass(_.seconds, keep),
            s"$p.gates.jobs" -> perPass(v.jobs(_).size.toDouble, keep),
            s"$p.gates.shuffle_bytes" -> perPass(v.jobs(_).map(_.shuffleWriteBytes).sum.toDouble, keep))
        }
        val warmups = Warmups.map { case (name, _) =>
          s"driver.warmup.${name}_s" -> Util.median(v.calls(s"driver.warmup.$name", "setup").map(_.seconds))
        }
        (byPackage ++ warmups ++ Seq(
          "pipeline.d3_minhash_lsh_s" -> probed.filter(_.request == "d3_minhash_lsh").map(_.seconds).sum,
          "driver.gates.driver_s" -> perPass(v.driverSeconds),
          "driver.gates.tasks" -> perPass(v.jobs(_).map(_.tasks).sum.toDouble))).toMap
      }
    val failed = checked.count(!_.ok).toLong
    Outcome(checked.size.toLong, failed, e2e, layers, Map(
      "gates" -> Selected.size, "passes" -> passes, "probes" -> probes.size,
      "gates_pass_s" -> Util.summary(passSeconds.toSeq),
      "gate_ms" -> Util.summary(gateMs),
      "setup_s" -> Util.summary(Seq(setupS)),
      "failed_ratio" -> failed.toDouble / checked.size,
      "gate_s" -> (medianS ++ probes.map(g => g.name -> g.seconds)),
      "observed" -> checked.groupBy(_.name).map { case (n, rs) => n -> s"${rs.head.rows}\t${rs.head.hash}" }))
  }
}
