package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.analysis.Analyzer
import graft.data.Transcripts
import graft.model.{CorpusStats, DictEntry, DocEntry, PostingBlock, Turn}

/**
 * Resumable index build (SURVEY.md §7.2/§7.5, north rule: "resumable from
 * checkpoint with per-partition lineage + metrics"), and the one owner of
 * the plain index's on-disk layout: [[build]] and the streaming append
 * ([[graft.streaming.Streams.appendBatch]]) write it through the same docs
 * stage, term-stats aggregation, dict-snapshot writer and marker I/O here.
 *
 * On-disk layout under `indexDir/`:
 * {{{
 *   docs/        docId, docIdNum, docLen        (+ _SUCCESS)
 *   postings/    shard=K/ *.parquet  PostingBlock rows, partitioned by shard
 *   dict/        term, termId, df, cf           (+ _SUCCESS; derived from
 *                                                block metadata — no extra
 *                                                pass over the corpus)
 *                + _corpus_stats: "numDocs numTokens" of the docs this
 *                dict counts, written last (the stage's commit point)
 *   dicts/v=N/   the same columns and marker, as immutable snapshots: an
 *                appended index supersedes dict/ with them, and
 *                `_dict_version` names the current one (see [[dictPath]])
 *   manifest/    per-shard lineage + metrics rows, appended per wave
 * }}}
 *
 * Every table has one declared schema here ([[DocsSchema]], [[DictSchema]],
 * [[PostingsSchema]]) and is read through it, so no read runs a job to infer
 * a schema from parquet footers. [[load]] reads no rows: file listings, the
 * `_dict_version` marker and the corpus stats of the dict snapshot it picks.
 *
 * Stage pipeline (each stage skipped when already committed):
 *  1. `docs` — one tokenize pass for (docId, docIdNum, docLen).
 *  2. `postings` — the fused segment build ([[PostingsBuilder.buildSegments]]):
 *     tokenize + in-memory inversion + block compression in ONE
 *     mapPartitions, zero shuffles on sorted input. Checkpointed at *shard*
 *     granularity: shards are written in waves; a restart lists committed
 *     shards on disk and plans only the remainder (§5.5 kill-resume).
 *     Each wave appends manifest rows
 *     `(shard, wave, nBlocks, nPostings, nTerms, sumMaxTf, wallMs)`.
 *  3. `dict` — (term, df, cf) aggregated from block metadata (`n`, `sumTf`)
 *     + dense term-ordered termIds, then the corpus stats of `docs/`; the
 *     stage is done once its `_corpus_stats` marker exists.
 *
 * Reference analog: `Indexer.indexWithThreads`
 * (`/root/reference/src/main/java/edu/anadolu/Indexer.java:567-654`) —
 * file-level tasks → RAM-buffered segment build; here partition-level tasks
 * → per-shard block files, with the merge made unnecessary by disjoint
 * doc-range sharding.
 */
object IndexBuild {

  /** The `docs/` table. */
  val DocsSchema: StructType = Encoders.product[DocEntry].schema
  /** `dict/` and every `dicts/v=N/` snapshot. */
  val DictSchema: StructType = Encoders.product[DictEntry].schema
  /** The `postings/` table: the partition column `shard` goes last, where
   * the file listing puts it. */
  val PostingsSchema: StructType = {
    val blocks = Encoders.product[PostingBlock].schema
    StructType(blocks.filterNot(_.name == "shard") :+ blocks("shard"))
  }

  final case class Index(docs: DataFrame, dict: DataFrame,
                         blocks: Dataset[PostingBlock], stats: CorpusStats) {
    /** Denormalized exact-path posting source (docId string key). */
    def termDocs: DataFrame =
      PostingsBuilder.decodeBlocks(blocks)
        .join(docs.select("docIdNum", "docId"), "docIdNum")
        .select("docId", "docLen", "term", "tf")

    /** The shard partitions [[graft.query.BlockMaxWand]] searches, built by
     * the first search: one field, "", with the corpus stats. */
    lazy val resident: Resident = {
      val spark = docs.sparkSession
      import spark.implicits._
      new Resident("bmw", blocks.withColumn("field", lit("")),
        dict.withColumn("field", lit("")), docs,
        Seq(("", stats.numDocs, stats.numTokens)).toDF("field", "fN", "fC"))
    }

    /** Unpersists the resident shard partitions, if built. */
    def release(): Unit = resident.release()
  }

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def exists(spark: SparkSession, p: String): Boolean =
    fs(spark, p).exists(new Path(p))

  def stageDone(spark: SparkSession, stageDir: String): Boolean =
    exists(spark, s"$stageDir/_SUCCESS")

  /** Shards already fully written (present on disk = committed by a
   * successful wave job; Spark commits partition dirs atomically per job).
   * Every shard in [0, numShards) holds at least one doc: batch builds
   * number densely, and streaming batches start at the immediately next
   * shard boundary — id ranges are contiguous at shard granularity. */
  def completedShards(spark: SparkSession, postingsDir: String): Set[Int] = {
    val f = fs(spark, postingsDir)
    val p = new Path(postingsDir)
    if (!f.exists(p)) Set.empty
    else f.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("shard="))
      .map(_.stripPrefix("shard=").toInt)
      .toSet
  }

  /** Deliberate mid-build crash for the kill-resume test. */
  final class InjectedFailure(wave: Int) extends RuntimeException(s"injected failure after wave $wave")

  /** Byte-wise UTF-8 comparison (ADVICE r05): DenseIds numbers partitions
   * in Spark's UTF8-BINARY min-key order, so the inputSorted validation
   * must compare docIds over UTF-8 BYTES — Java's String.compareTo orders
   * by UTF-16 code units, which diverges for supplementary characters
   * (surrogates sort above U+E000..U+FFFF in UTF-8 binary order but below
   * them in UTF-16). ASCII-only docIds are unaffected; this closes the
   * latent hazard. */
  private[graft] def utf8CmpStatic(a: String, b: String): Int = {
    // fast path: the two collations only diverge when a supplementary
    // character (UTF-16 surrogate pair) meets a BMP char ≥ U+E000; when
    // neither string holds a surrogate, String.compareTo IS the UTF-8 byte
    // order — and the validation calls this per row, so the common (ASCII)
    // case must not allocate
    var i = 0
    var surrogate = false
    while (i < a.length && !surrogate) { if (a.charAt(i) >= 0xD800) surrogate = true; i += 1 }
    i = 0
    while (i < b.length && !surrogate) { if (b.charAt(i) >= 0xD800) surrogate = true; i += 1 }
    if (!surrogate) return a.compareTo(b)
    val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    i = 0
    val n = math.min(ab.length, bb.length)
    while (i < n) {
      val c = (ab(i) & 0xFF) - (bb(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    ab.length - bb.length
  }

  /** Input partitions whose [min, max] docIdNum range intersects any wanted
   * shard (shard = docIdNum / docsPerShard) — the wave-pruning keep set. */
  private[graft] def partitionsForShards(bounds: Array[(Int, Long, Long)],
                                         wanted: Set[Int],
                                         docsPerShard: Long): Set[Int] =
    bounds.filter { case (_, mn, mx) =>
      val lo = (mn / docsPerShard).toInt
      val hi = (mx / docsPerShard).toInt
      wanted.exists(s => s >= lo && s <= hi)
    }.map(_._1).toSet

  /**
   * Build (or resume) the full index.
   *
   * @param docsPerShard documents per posting shard (doc-range partitioning;
   *   also the segment-flush granularity bounding task memory)
   * @param waves number of atomic write jobs the remaining shards are split
   *   into (1 = single job; >1 exercises finer checkpoints)
   * @param failAfterWave fault injection: throw after this wave commits
   * @param inputSorted the turns table is already cluster-sorted by the
   *   stable turn ordering with docId-string-ordered partitions (true for
   *   the generator / a sorted lake table) — the build then runs with ZERO
   *   full-data shuffles
   */
  def build(turns: Dataset[Turn], indexDir: String,
            tag: Analyzer.Tag = Analyzer.Tag.NoStem,
            docsPerShard: Long = 1 << 20,
            waves: Int = 1,
            failAfterWave: Int = -1,
            inputSorted: Boolean = false): Index = {
    val spark = turns.sparkSession
    pinJobCommit(spark)
    val docsDir = s"$indexDir/docs"
    val dictDir = s"$indexDir/dict"
    val postingsDir = s"$indexDir/postings"
    val manifestDir = s"$indexDir/manifest"
    val docsWasDone = stageDone(spark, docsDir)

    // inputSorted trusts in-partition order AS docId-string order — the
    // engine's canonical tie-break order (exact path, BMW heap, windows).
    // Validate it with one narrow pass (docId column only): per-partition
    // strict monotonicity + DISJOINT ranges across partitions, checked in
    // key order rather than partition-index order (a file scan of a sorted
    // lake table packs splits by size, so the sorted ranges arrive in
    // arbitrary task order — DenseIds numbers them in min-key order). A
    // numeric (conv_id, turn_idx) sort with turn_idx ≥ 10 would fail here
    // ("c#10" sorts before "c#2" numerically but after as a string).
    if (inputSorted && !docsWasDone) {
      val bounds = docText(turns).select("docId")
        .rdd.mapPartitionsWithIndex { (pi, it) =>
          var first: String = null; var last: String = null; var sorted = true
          it.foreach { r =>
            val d = r.getString(0)
            if (first == null) first = d
            else if (utf8CmpStatic(d, last) <= 0) sorted = false
            last = d
          }
          if (first == null) Iterator.empty else Iterator((pi, first, last, sorted))
        }.collect()
        .sortWith((x, y) => { val c = utf8CmpStatic(x._2, y._2); c < 0 || (c == 0 && x._1 < y._1) })
      bounds.foreach { case (pi, _, _, sorted) =>
        require(sorted, s"inputSorted=true but partition $pi is not strictly sorted by docId string") }
      bounds.sliding(2).foreach {
        case Array((_, _, lastA, _), (pi, firstB, _, _)) =>
          require(utf8CmpStatic(lastA, firstB) < 0,
            s"inputSorted=true but partition $pi's range [$firstB, …] overlaps a sibling ending at '$lastA'")
        case _ =>
      }
    }

    // DenseIds persists its post-shuffle frame internally for unsorted
    // input, so every pass below pays the range shuffle at most once.
    //
    // RESUME CONSISTENCY: once the docs stage is committed, its
    // docId→docIdNum mapping is the durable numbering of record. A restart
    // must NOT re-run DenseIds — repartitionByRange re-samples partition
    // boundaries (non-deterministic across JVMs), so a recomputed numbering
    // could disagree with the one inside already-committed posting shards.
    // Instead, join the committed mapping back onto the input and restore
    // the shard-build invariant (docIdNum ascending within partitions) with
    // a range shuffle on the now-FIXED numeric ids.
    lazy val freshAssigned = DenseIds.assignCounted(
      docText(turns), "docIdNum", assumeSorted = inputSorted, col("docId"))
    lazy val turnsWithId: DataFrame =
      if (docsWasDone) {
        val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
        docText(turns)
          .join(spark.read.schema(DocsSchema).parquet(docsDir).select("docId", "docIdNum"), "docId")
          .repartitionByRange(parts, col("docIdNum"))
          .sortWithinPartitions("docIdNum")
      } else freshAssigned._1

    // -- stage 2: postings via fused segment build, shard-granular resume.
    // Shard space from BOTH the doc count and the max id: the build's own
    // numbering is dense (maxId + 1 == numDocs), but a streaming-appended
    // index aligns each batch to a shard boundary, leaving id gaps — a
    // count-only bound would never repair its upper shards. Returns whether
    // any shard was (re)written.
    def writePostings(numDocs: Long, maxDocIdNum: Long): Boolean = {
      val numShards = math.max(1,
        ((math.max(numDocs, maxDocIdNum + 1) + docsPerShard - 1) / docsPerShard).toInt)
      val done = completedShards(spark, postingsDir)
      val todo = (0 until numShards).filterNot(done)
      if (todo.nonEmpty) {
        val groups = {
          val per = math.max(1, math.ceil(todo.size.toDouble / math.max(1, waves)).toInt)
          todo.grouped(per).toSeq
        }
        // Wave-scoped input pruning: when a wave covers only part of the
        // shard space (multi-wave build, or a resume with committed shards),
        // prune whole INPUT partitions whose docIdNum range misses the wave
        // — a wave then reads ~its share of the input instead of scanning
        // everything and discarding rows inside mapPartitions.
        //
        // CONSISTENCY: the bounds pass runs on the SAME RDD object the wave
        // jobs prune (`baseRdd`), so any shuffle in the lineage materializes
        // once and is REUSED by every subsequent job (Spark skips the map
        // stage of an already-computed ShuffleDependency) — the partitioning
        // the bounds describe is physically the partitioning the waves read.
        // A fresh DataFrame aggregate would NOT give that guarantee: the
        // resume path's repartitionByRange re-samples boundaries per
        // execution (seeded by rdd.id), and drift between the bounds job and
        // the wave job would silently prune partitions that still hold
        // wanted-shard docs.
        val pruneWaves = groups.size > 1 || done.nonEmpty
        lazy val baseRdd = {
          import spark.implicits._
          turnsWithId.select("docIdNum", "text").as[(Long, String)].rdd
        }
        lazy val partBounds: Array[(Int, Long, Long)] =
          baseRdd.mapPartitionsWithIndex { (pi, it) =>
            var mn = Long.MaxValue; var mx = Long.MinValue
            it.foreach { case (num, _) =>
              if (num < mn) mn = num
              if (num > mx) mx = num
            }
            if (mn == Long.MaxValue) Iterator.empty else Iterator((pi, mn, mx))
          }.collect()
        groups.zipWithIndex.foreach { case (shardGroup, wave) =>
          val t0 = System.nanoTime()
          val groupSet = shardGroup.toSet
          val blocks =
            if (pruneWaves) {
              val keep = partitionsForShards(partBounds, groupSet, docsPerShard)
              PostingsBuilder.buildSegmentsRdd(spark,
                org.apache.spark.rdd.PartitionPruningRDD.create(baseRdd, keep.contains),
                tag, docsPerShard, shardFilter = groupSet.contains)
            } else PostingsBuilder.buildSegments(turnsWithId, tag, docsPerShard,
              shardFilter = groupSet.contains)
          blocks
            .toDF()
            .write.mode("append").partitionBy("shard").parquet(postingsDir)
          // per-shard lineage + metrics from the blocks just committed
          val wallMs = (System.nanoTime() - t0) / 1000000L
          // two-stage (shard, term) partials → per-shard roll-up: mixing
          // countDistinct with plain sums plans an Expand that doubles the
          // block rows through the shuffle (see FieldedIndex.fieldStatsOf;
          // block terms are non-null by construction, so count(*) over the
          // (shard, term) groups ≡ the old countDistinct)
          spark.read.schema(PostingsSchema).parquet(postingsDir)
            .filter(col("shard").isin(shardGroup: _*))
            .groupBy("shard", "term")
            .agg(count(lit(1)).as("tBlocks"), sum("n").as("tPostings"),
              sum("maxTf").as("tMaxTf"))
            .groupBy("shard")
            .agg(sum("tBlocks").as("nBlocks"), sum("tPostings").as("nPostings"),
              count(lit(1)).as("nTerms"), sum("tMaxTf").as("sumMaxTf"))
            .withColumn("wave", lit(wave))
            .withColumn("wallMs", lit(wallMs))
            .write.mode("append").parquet(manifestDir)
          if (failAfterWave == wave) throw new InjectedFailure(wave)
        }
      }
      todo.nonEmpty
    }

    // -- stage 1: docs. Round 6 (optimization guide §2.6): on a FRESH build
    // the docs write is independent of the postings waves (both scan
    // turnsWithId), and the shard space is already known from the
    // numbering's own count pass (dense ids ⇒ maxDocIdNum = n − 1) — so the
    // docs job runs alongside the waves and they back-fill the scheduler.
    // It is joined before docsDir is read below, and also when a wave
    // throws: kill-resume re-enters build in the same JVM and must not see
    // a half-written docs stage racing a fresh attempt. The resume path
    // reads the shard space from the committed docs instead.
    val repairedShards =
      if (docsWasDone) {
        val (numDocs, maxDocIdNum) = docsExtent(spark, docsDir)
        writePostings(numDocs, maxDocIdNum)
      } else {
        // nothing after this branch reads the numbering: release its
        // persisted frame (DenseIds persists it for unsorted input)
        val numDocs = freshAssigned._2
        try alongside(() => writeDocs(turnsWithId, tag, docsDir, "overwrite"), "graft-idx-docs")(
          writePostings(numDocs, numDocs - 1))
        finally freshAssigned._3()
      }

    // commit marker for the postings stage as a whole
    writeSmallFile(spark, s"$postingsDir/_GRAFT_COMPLETE")

    // -- stage 3: dict from block metadata (no corpus pass) + corpus stats --
    // A streaming-appended index supersedes the flat dict/ with versioned
    // snapshots — never resurrect the stale flat dir over them. BUT if THIS
    // build call committed new posting shards (repairing a crashed append),
    // the latest snapshot no longer covers them: write a fresh
    // full-aggregation snapshot, so the returned dict counts every shard.
    lazy val termStats = termStatsOf(spark.read.schema(PostingsSchema).parquet(postingsDir))
    lazy val corpusStats = Tokenize.corpusStats(spark.read.schema(DocsSchema).parquet(docsDir))
    val version = dictVersion(spark, indexDir)
    if (version > 0L) {
      if (repairedShards) writeDictSnapshot(spark, indexDir, termStats, corpusStats, version)
    } else if (!exists(spark, statsFile(dictDir)))
      writeDict(spark, dictDir, termStats, corpusStats)

    load(spark, indexDir)
  }

  /** Resume and replay read an on-disk `shard=K` or docs dir as committed,
   * which holds only under job-level commit — pin the v1 committer so
   * partition dirs surface at job commit, never mid-job. */
  private[graft] def pinJobCommit(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .setInt("mapreduce.fileoutputcommitter.algorithm.version", 1)

  /** (docId, text) of each turn — the input the numbering, docs and
   * postings stages share. */
  private[graft] def docText(turns: Dataset[Turn]): DataFrame =
    turns.toDF().select(Transcripts.docIdCol.as("docId"), col("text"))

  /** The docs stage: numbered (docId, docIdNum, text) rows → `DocEntry`
   * rows with the analyzed doc length, one zero-shuffle pass, written to
   * `docsDir` with save mode `mode`. */
  private[graft] def writeDocs(withId: DataFrame, tag: Analyzer.Tag,
                               docsDir: String, mode: String): Unit = {
    val spark = withId.sparkSession
    import spark.implicits._
    withId.select("docId", "docIdNum", "text").as[(String, Long, String)]
      .mapPartitions(_.map { case (docId, num, text) =>
        DocEntry(docId, num, Analyzer.docLength(text, tag)) })
      .write.mode(mode).parquet(docsDir)
  }

  /** (doc count, max docIdNum or −1 when empty) of a committed docs table:
   * the shard space of a resumed build, the numbering start of an append
   * onto an index without a high-water mark. */
  private[graft] def docsExtent(spark: SparkSession, docsDir: String): (Long, Long) = {
    val r = spark.read.schema(DocsSchema).parquet(docsDir)
      .agg(count(lit(1)), coalesce(max("docIdNum"), lit(-1L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** (term, df, cf) from posting-block metadata (`n`, `sumTf`). */
  private[graft] def termStatsOf(blocks: DataFrame): DataFrame =
    blocks.groupBy("term").agg(sum("n").as("df"), sum("sumTf").as("cf"))

  private def versionFile(indexDir: String) = s"$indexDir/_dict_version"

  /** Directory of dict snapshot `v`. */
  private[graft] def snapshotDir(indexDir: String, v: Long): String = s"$indexDir/dicts/v=$v"

  /** Current dict snapshot version; 0 = none (a batch build's flat dict). */
  private[graft] def dictVersion(spark: SparkSession, indexDir: String): Long =
    readSmallFile(spark, versionFile(indexDir)).fold(0L)(_.toLong)

  /** The snapshot an append merges onto: the current version, after a
   * one-time promotion of a batch build's flat `dict/` to `dicts/v=1` (the
   * flat dir is rewritten in place by a rebuild, so it cannot serve as an
   * immutable replay base). */
  private[graft] def snapshotBase(spark: SparkSession, indexDir: String): Long = {
    val flat = s"$indexDir/dict"
    if (dictVersion(spark, indexDir) == 0L && stageDone(spark, flat)) {
      val stats = storedStats(spark, flat)
      writeDictSnapshot(spark, indexDir, spark.read.schema(DictSchema).parquet(flat), stats, 0L)
    }
    dictVersion(spark, indexDir)
  }

  /** Write `termStats` (term, df, cf), numbered, with its corpus stats as
   * snapshot `base + 1` and advance `_dict_version` to it. Snapshot
   * `base − 1` is deleted: a replayed append re-merges onto `base`, which is
   * kept, so nothing older can be read again. */
  private[graft] def writeDictSnapshot(spark: SparkSession, indexDir: String,
                                       termStats: DataFrame, stats: => CorpusStats,
                                       base: Long): Unit = {
    writeDict(spark, snapshotDir(indexDir, base + 1), termStats, stats)
    writeSmallFile(spark, versionFile(indexDir), (base + 1).toString)
    if (base > 1) fs(spark, indexDir).delete(new Path(snapshotDir(indexDir, base - 1)), true)
  }

  /** Write `termStats` (term, df, cf), numbered, to `dir`, replacing what
   * is there, and then `stats` as its `_corpus_stats` marker: a dict dir
   * without the marker is not committed. The dict rows and `stats` are
   * computed as two concurrent jobs. */
  private[graft] def writeDict(spark: SparkSession, dir: String, termStats: DataFrame,
                               stats: => CorpusStats): Unit = {
    val s = alongside(() => Dictionary.writeWithIds(termStats, dir), "graft-idx-dict")(stats)
    writeSmallFile(spark, statsFile(dir), s"${s.numDocs} ${s.numTokens}")
  }

  private def statsFile(dictDir: String) = s"$dictDir/_corpus_stats"

  /** The corpus stats stored with the dict snapshot at `dictDir`. */
  private[graft] def storedStats(spark: SparkSession, dictDir: String): CorpusStats =
    readSmallFile(spark, statsFile(dictDir)) match {
      case Some(body) =>
        val Array(n, c) = body.split(' ')
        CorpusStats(n.toLong, c.toLong)
      case None => throw new IllegalStateException(
        s"${statsFile(dictDir)} is missing: this index was written without stored corpus " +
          "stats (by an older graft, or by a build that did not finish); rebuild it")
    }

  /** Trimmed UTF-8 body of a small marker file, if present. */
  private[graft] def readSmallFile(spark: SparkSession, path: String): Option[String] =
    if (!exists(spark, path)) None
    else {
      val in = fs(spark, path).open(new Path(path))
      try Some(new String(in.readAllBytes(), "UTF-8").trim) finally in.close()
    }

  private[graft] def writeSmallFile(spark: SparkSession, path: String, body: String = ""): Unit = {
    val out = fs(spark, path).create(new Path(path), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** Run `background` on its own thread while `foreground` runs on this
   * one — two independent Spark jobs sharing the scheduler. The background
   * job is joined before this returns or throws, so no caller reads its
   * output half-written; a foreground failure is thrown first, with a
   * background failure attached to it as suppressed. */
  private[graft] def alongside[A](background: () => Unit, name: String)(foreground: => A): A = {
    @volatile var bgFailure: Throwable = null
    val t = new Thread(() => try background() catch { case e: Throwable => bgFailure = e }, name)
    t.start()
    var fgFailure: Throwable = null
    try foreground
    catch { case e: Throwable => fgFailure = e; throw e }
    finally {
      t.join()
      if (bgFailure != null) {
        if (fgFailure != null) fgFailure.addSuppressed(bgFailure)
        else throw bgFailure
      }
    }
  }

  /** Current dictionary location: an appended index carries a
   * `_dict_version` marker naming the latest immutable snapshot under
   * `dicts/v=N` (see [[graft.streaming.Streams.appendBatch]]); a pure
   * batch build uses the flat `dict/` stage dir. */
  def dictPath(spark: SparkSession, indexDir: String): String = {
    val v = dictVersion(spark, indexDir)
    if (v > 0L) snapshotDir(indexDir, v) else s"$indexDir/dict"
  }

  /** Opens the index at `indexDir` from its metadata: file listings, the
   * dict version and the stored corpus stats. Runs no Spark job. The dict
   * and the stats come from the same snapshot. */
  def load(spark: SparkSession, indexDir: String): Index = {
    import spark.implicits._
    val dictDir = dictPath(spark, indexDir)
    val stats = storedStats(spark, dictDir)
    Index(
      spark.read.schema(DocsSchema).parquet(s"$indexDir/docs"),
      spark.read.schema(DictSchema).parquet(dictDir),
      spark.read.schema(PostingsSchema).parquet(s"$indexDir/postings").as[PostingBlock],
      stats)
  }
}
