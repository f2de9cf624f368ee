package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.data.Transcripts
import graft.index.{FieldedBlocks, FieldedIndex, IndexBuild}
import graft.model.Topic
import graft.query.{BlockMaxWand, Exact, Fielded, FieldedBlockMax, Scoring}

/**
 * `search`: ranked retrieval over the plain and fielded indexes of a fixed
 * corpus ([[IndexSetup]]). The `query` layer does the timed work; set-up
 * only loads the indexes.
 *
 * After one untimed warm-up batch, each round sends four 8-topic batches
 * to block-max WAND and the same four to fielded block-max. The check then
 * sends the first [[CheckTopics]] topics of the first timed batch to the
 * exhaustive siblings (`Exact` over the uncached term-doc source, as
 * `cli search --path exact` does, and `Fielded.searchIndexed`), whose
 * ranked lists must equal the block-max ones. The traced run also rebuilds
 * both indexes once and checks them, so the `index` layer's build metrics
 * are measured too.
 */
object Search extends Workload {
  val Setups = 2
  val BatchesPerRound = 4
  val MinRounds = 1
  val CheckTopics = 4
  val K = 1000
  val Model: Scoring.Model = Scoring.BM25c(0.9, 0.4)
  val Boosts = Map("role" -> 0.9, "tool" -> 0.7, "contents" -> 0.3)
  val BlockMaxPaths = Seq("bmw", "fielded_bmw")
  val QueryPaths = BlockMaxPaths ++ Seq("exact", "fielded_flat")

  /**
   * One 8-topic batch, the `j`-th of its round. Topic i has 1 + i % 4 terms
   * (20 terms a batch). Two terms are planted needles (parquet row-group
   * pruning), one is unseen (zero hits), and 17 follow the corpus's own
   * 1/rank law, stratified so that every batch draws once from each of 17
   * equal slices of that law: the head terms w0-w9 that make block skipping
   * matter appear in every batch. `pos(k)` in [0, 1) places the draw within
   * slice k (see [[positions]]); which slice lands in which topic is
   * [[layout]]`(j)`. The seed draws the positions and the needles.
   */
  def batch(rng: scala.util.Random, j: Int, pos: IndexedSeq[Double]): Seq[Topic] = {
    val v = Transcripts.VOCAB_SIZE.toDouble
    val zipf = (0 until 17).map { k =>
      val u = (k + pos(k)) / 17
      s"w${math.min(v - 1, math.exp(u * math.log(v)) - 1).toLong}"
    }
    val needles = Seq.fill(2)(Transcripts.NEEDLES(rng.nextInt(Transcripts.NEEDLES.size)))
    val strata = zipf ++ needles :+ s"zzunseen${rng.nextInt(1000)}"
    val terms = layout(j).map(strata).iterator
    (0 until 8).map(i => Topic(i + 1, Seq.fill(1 + i % 4)(terms.next()).mkString(" ")))
  }

  /** Within-slice positions for the `n` batches of a round, a Latin
   * hypercube: in every slice the `n` batches draw once from each of `n`
   * equal sub-slices, in a seeded order. A round then covers the head of
   * the law (w0 against w2 in slice 1, say) the same way whatever the seed,
   * so round cost varies less between seeds. */
  def positions(rng: scala.util.Random, n: Int): IndexedSeq[IndexedSeq[Double]] = {
    val order = (0 until 17).map(_ => rng.shuffle((0 until n).toIndexedSeq))
    (0 until n).map(j => (0 until 17).map(k => (order(k)(j) + rng.nextDouble()) / n))
  }

  /** The order in which batch `j` of a round puts its 20 strata into term
   * slots. It is fixed, not drawn from the seed: a topic's WAND cost
   * depends on which head terms it holds together, so every run sends
   * topics of the same shapes and batch cost varies less between seeds. */
  def layout(j: Int): IndexedSeq[Int] =
    new scala.util.Random(1000L + j).shuffle((0 until 20).toIndexedSeq)

  final case class Call(path: String, request: String, topics: Int, results: Int, seconds: Double)

  def run(ctx: Ctx): Outcome = {
    val t = ctx.tracer
    val spark = ctx.spark
    val dir = ctx.indexDir.toString
    // set-up: loading both indexes, repeated for a stable set-up time
    val (loads, loaded) = t.span("setup", phase = "setup") {
      (1 to Setups).map { i =>
        val (l, s) = Util.time(t.span("index.load", s"setup-$i") {
          (IndexBuild.load(spark, IndexSetup.plain(dir)),
            FieldedIndex.load(spark, IndexSetup.fielded(dir)),
            FieldedBlocks.load(spark, IndexSetup.fielded(dir)))
        })
        (s, l)
      }.unzip
    }
    val (index, fidx, fblocks) = loaded.last

    def rows(df: DataFrame): Seq[Row] =
      df.select("qid", "docId", "rank", "score").collect().toSeq
    def send(path: String, request: String, topics: Seq[Topic]): (Seq[Row], Call) = {
      val (rs, s) = Util.time(t.span(s"query.$path", request) {
        rows(path match {
          case "bmw" => BlockMaxWand.search(index, topics, Model, K)
          case "exact" => Exact.search(index.termDocs, index.dict, index.stats, topics, Model, K)
          case "fielded_bmw" => FieldedBlockMax.search(fblocks, topics, Model, K, boosts = Boosts)
          case "fielded_flat" => Fielded.searchIndexed(fidx, topics, Model, K, boosts = Boosts)
        })
      })
      (rs, Call(path, request, topics.size, rs.size, s))
    }
    def same(a: Seq[Row], b: Seq[Row]): Boolean = {
      val key = (r: Row) => (r.getInt(0), r.getInt(2))
      a.size == b.size && a.sortBy(key) == b.sortBy(key)
    }

    val rng = new scala.util.Random(ctx.seed)
    var attempted = 0L
    var failed = 0L
    val calls = scala.collection.mutable.ArrayBuffer.empty[Call]
    /** One round of `n` batches on the block-max paths; returns its calls
     * and the topics and results of its first batch. */
    def round(name: String, n: Int): (Seq[Call], (Seq[Topic], Seq[Row], Seq[Row])) =
      t.span("round", name) {
        val done = scala.collection.mutable.ArrayBuffer.empty[Call]
        val pos = positions(rng, n)
        val firsts = (0 until n).map { j =>
          val topics = batch(rng, j, pos(j))
          val (bmw, c1) = send("bmw", s"$name-b$j", topics)
          val (fbmw, c2) = send("fielded_bmw", s"$name-b$j", topics)
          done += c1 += c2
          attempted += 2
          (topics, bmw, fbmw)
        }
        (done.toSeq, firsts.head)
      }

    // Warm-up: one batch on each block-max path, not timed. A cold first
    // round takes about twice as long as the later ones.
    t.span("warmup", phase = "warmup")(round("w", 1))
    // Rounds until the next one would end after --seconds, at least
    // MinRounds; every reported figure is a median over the timed batches.
    val (topics0, bmw0, fbmw0) = t.span("measure", phase = "measure") {
      val t0 = System.nanoTime()
      var r = 0
      var last = 0.0
      var first: (Seq[Topic], Seq[Row], Seq[Row]) = null
      while (r < MinRounds || (System.nanoTime() - t0) / 1e9 + last <= ctx.seconds) {
        val ((cs, f), s) = Util.time(round(s"r$r", BatchesPerRound))
        calls ++= cs
        if (first == null) first = f
        last = s
        r += 1
      }
      first
    }
    // Output check: the exhaustive paths rank the first CheckTopics topics
    // of the first timed batch; per topic, their lists must equal the
    // block-max ones.
    val checkCalls = t.span("check", phase = "check") {
      val sub = topics0.take(CheckTopics)
      val lastQid = sub.map(_.qid).max
      def head(rs: Seq[Row]) = rs.filter(_.getInt(0) <= lastQid)
      val (exact, c1) = send("exact", "r0-b0", sub)
      val (flat, c2) = send("fielded_flat", "r0-b0", sub)
      attempted += 2
      if (!same(exact, head(bmw0))) {
        failed += 1
        System.err.println("[perfbench] r0-b0: exact and block-max WAND rankings differ")
      }
      if (!same(flat, head(fbmw0))) {
        failed += 1
        System.err.println("[perfbench] r0-b0: flat and block-max fielded rankings differ")
      }
      Seq(c1, c2)
    }

    def of(p: String) = (calls ++ checkCalls).filter(_.path == p).toSeq
    def topicsPerS(cs: Seq[Call]) = cs.map(_.topics).sum / cs.map(_.seconds).sum
    // every batch counted at its path's median batch time: one batch slowed
    // by a host hiccup does not move the throughput
    val robustSeconds = BlockMaxPaths.map(p => of(p).size * Util.median(of(p).map(_.seconds))).sum
    val e2e = Map(
      "setup_s" -> Util.median(loads),
      "items_per_s" -> calls.map(_.topics).sum / robustSeconds,
      "op_ms.p50" -> Util.median(of("bmw").map(_.seconds * 1000)))
    val layers =
      if (!t.enabled) Map.empty[String, Double]
      else {
        // the index layer: a traced rebuild of both indexes, checked
        val (probePlain, probeFielded) = (ctx.dir("probe-plain"), ctx.dir("probe-fielded"))
        t.span("probe", phase = "probe") {
          IndexSetup.buildBoth(spark, t, IndexSetup.table(dir), probePlain, probeFielded, "probe")
        }
        val sizes = t.span("check", phase = "check") {
          attempted += 1
          if (!IndexSetup.check(IndexBuild.load(spark, probePlain), FieldedIndex.load(spark, probeFielded))) {
            failed += 1
            System.err.println("[perfbench] index check of the rebuilt indexes failed")
          }
          IndexSetup.sizesOf(spark, IndexSetup.plain(dir), IndexSetup.fielded(dir))
        }
        val v = new TraceView(t)
        val byCall = (calls ++ checkCalls).map(c => (s"query.${c.path}", c.request) -> c).toMap
        val query = QueryPaths.flatMap { p =>
          val cs = v.calls(s"query.$p", if (BlockMaxPaths.contains(p)) "measure" else "check")
          val jobs = cs.flatMap(v.jobs)
          val topics = cs.map(s => byCall((s.name, s.request)).topics).sum.toDouble
          val res = cs.map(s => byCall((s.name, s.request)).results).sum
          def perBatch(f: Span => Double) = Util.median(cs.map(f))
          Seq(
            s"query.$p.jobs_per_batch" -> perBatch(v.jobs(_).size.toDouble),
            s"query.$p.tasks_per_batch" -> perBatch(v.jobs(_).map(_.tasks).sum.toDouble),
            s"query.$p.driver_s_per_batch" -> perBatch(v.driverSeconds),
            s"query.$p.cpu_s_per_topic" -> jobs.map(_.cpuNs).sum / 1e9 / topics,
            s"query.$p.input_bytes_per_topic" -> jobs.map(_.inputBytes).sum / topics,
            s"query.$p.records_read_per_result" ->
              (if (res == 0) 0.0 else jobs.map(_.recordsRead).sum.toDouble / res),
            s"query.$p.shuffle_bytes_per_batch" ->
              perBatch(v.jobs(_).map(_.shuffleWriteBytes).sum.toDouble))
        }
        val build = Seq("index.build", "index.fielded_build", "index.fielded_blocks")
          .flatMap(n => v.buildMetrics(n, "probe"))
        (query ++ build).toMap ++ sizes +
          ("index.load_s" -> Util.median(v.calls("index.load", "setup").map(_.seconds)))
      }
    Outcome(attempted, failed, e2e, layers, Map(
      "turns" -> IndexSetup.Turns, "k" -> K, "topics_per_batch" -> 8, "check_topics" -> CheckTopics,
      "setup_s" -> Util.summary(loads),
      "failed_ratio" -> failed.toDouble / attempted) ++
      QueryPaths.map(p => s"${p}_topics_per_s" -> topicsPerS(of(p))) ++
      QueryPaths.map(p => s"${p}_batch_ms" -> Util.summary(of(p).map(_.seconds * 1000))))
  }
}
