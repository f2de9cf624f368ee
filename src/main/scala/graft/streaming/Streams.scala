package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.analysis.Analyzer
import graft.index.{DenseIds, IndexBuild, PostingsBuilder, Tokenize}
import graft.model.{CorpusStats, Turn}

/**
 * Structured Streaming surface (SURVEY.md §1.4: the reference is strictly
 * batch — these are the Spark-native streaming counterparts of its
 * ingestion + analytics paths, for transcript streams that arrive
 * continuously at 100 TB scale).
 *
 *  - [[dedupByContent]]: streaming exact dedup — first-seen content hash
 *    wins across micro-batches (stateful `dropDuplicates`, optionally
 *    watermark-bounded state).
 *  - [[windowedTokenStats]]: event-time tumbling-window token/doc counts
 *    with optional watermark (append mode emits finalized windows only).
 *  - [[appendBatch]] / [[indexSink]]: incremental inverted-index ingestion
 *    — each micro-batch becomes a fresh disjoint set of posting shards
 *    (docIdNum ranges aligned to shard boundaries), the dictionary is
 *    re-derived from block METADATA only (never a corpus re-pass), the
 *    corpus stats from the base snapshot's plus the batch's own docs, and
 *    the result is a normal [[graft.index.IndexBuild.load]]-able index at
 *    every commit point.
 */
object Streams {

  /** First-seen exact dedup on a (possibly streaming) frame: one row per
   * distinct content hash, earliest arrival wins. With `watermarkOn` set,
   * [[org.apache.spark.sql.Dataset.dropDuplicatesWithinWatermark]] is used
   * so state for hashes older than the delay really is evicted — a plain
   * `dropDuplicates(hash)` never drops state unless the event-time column
   * is part of the key, and would grow without bound on an unbounded
   * stream. The trade: duplicates separated by more than the delay pass
   * through (the standard bounded near-real-time dedup semantic). */
  def dedupByContent(df: DataFrame, idCol: String, textCol: String,
                     watermarkOn: Option[(String, String)] = None): DataFrame = {
    val hashed = watermarkOn
      .fold(df) { case (tsCol, delay) => df.withWatermark(tsCol, delay) }
      .withColumn("text_hash", md5(col(textCol)))
    val deduped =
      if (watermarkOn.isDefined) hashed.dropDuplicatesWithinWatermark("text_hash")
      else hashed.dropDuplicates("text_hash")
    deduped.select(col(idCol).as("id"), col("text_hash"))
  }

  /** Event-time tumbling-window corpus stats: docs + analyzed-token count
   * per window. Watermark optional (append mode requires it; complete mode
   * replays every window). */
  def windowedTokenStats(df: DataFrame, tsCol: String, textCol: String,
                         windowDuration: String,
                         watermarkOn: Option[String] = None): DataFrame = {
    val countTokens = udf((t: String) => Analyzer.countTokens(t).toLong)
    val base = watermarkOn.fold(df)(delay => df.withWatermark(tsCol, delay))
    base
      .withColumn("n_tok", countTokens(col(textCol)))
      .groupBy(window(col(tsCol), windowDuration))
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .select(col("window.start").cast("long").as("window_start"),
        col("n_docs"), col("n_tokens"))
  }

  /**
   * Streaming topic match ("percolation"): score every incoming turn
   * against a STANDING query set — the reference's searcher inverted
   * (queries fixed, documents flow). Corpus statistics (df/cf/N/C) come
   * from a static index of the standing corpus the stream augments; the
   * per-(topic, term) stats are resolved once on the driver, INVERTED to
   * a term → [(query, position)] map (per-token work is O(queries
   * containing the token)) and torrent-broadcast to executors, so each
   * micro-batch is a stateless MAP — no shuffle, no state store, append
   * mode, scales linearly with the stream and sub-linearly with the
   * standing-query count.
   *
   * Scoring semantics match [[graft.query.Exact]]: OR-sum of per-term
   * model scores over the turn's own tf/doclen, duplicate query terms
   * once per occurrence.
   *
   * @param floatBoundary reference float-cast per term
   *   (`ModelBase.java:145`); false = pure-double (cross-engine gate mode)
   * @return (id, qid, score) for matches with score ≥ minScore
   */
  def topicMatches(df: DataFrame, idCol: String, textCol: String,
                   topics: Seq[graft.model.Topic], dict: DataFrame,
                   stats: graft.model.CorpusStats,
                   model: graft.query.Scoring.Model, minScore: Double,
                   tag: Analyzer.Tag = Analyzer.Tag.NoStem,
                   floatBoundary: Boolean = true): DataFrame =
    topicMatchesManaged(df, idCol, textCol, topics, dict, stats, model,
      minScore, tag, floatBoundary)._1

  /** [[topicMatches]], plus a release handle destroying the standing-set
   * broadcast (no-op for sub-1024-term sets, which ride in the closure).
   * A session-lifetime percolation query can ignore it — the broadcast's
   * lifetime IS the session's — but a caller that re-registers large
   * standing sets repeatedly (ad-hoc batch calls, restart loops) MUST call
   * the handle after the last action on the result, or each call pins one
   * executor-resident broadcast until session end. For a streaming query,
   * call it from a `StreamingQueryListener.onQueryTerminated`. */
  def topicMatchesManaged(df: DataFrame, idCol: String, textCol: String,
                          topics: Seq[graft.model.Topic], dict: DataFrame,
                          stats: graft.model.CorpusStats,
                          model: graft.query.Scoring.Model, minScore: Double,
                          tag: Analyzer.Tag = Analyzer.Tag.NoStem,
                          floatBoundary: Boolean = true): (DataFrame, () => Unit) = {
    val spark = df.sparkSession
    val byQid: Map[Int, Seq[(String, Int, Long, Long)]] =
      graft.query.Exact.qtermStats(topics, dict, tag)
        .select("qid", "term", "mult", "df", "cf").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
        .groupBy(_._1)
        .map { case (qid, rows) => qid -> rows.toSeq.map(t => (t._2, t._3, t._4, t._5)) }
    // INVERTED standing-query set (round-3 VERDICT next-round #7): per
    // incoming token the work is O(queries CONTAINING that token), not
    // O(all standing queries) — the difference between ~10³ and ~10⁶
    // standing topics. Layout: qid/terms flattened to parallel arrays; a
    // term → [(query index, term position)] map drives accumulation into a
    // per-query score slot array, and each matched query's slots are summed
    // IN TERM-POSITION ORDER — bit-identical to the sequential per-query
    // loop regardless of token arrival order (double addition is not
    // associative; a hash-order accumulation would drift in the last ulp).
    val qids: Array[Int] = byQid.keys.toArray.sorted
    val qTermMeta: Array[Array[(Int, Long, Long)]] = // (mult, df, cf) per position
      qids.map(q => byQid(q).map(t => (t._2, t._3, t._4)).toArray)
    val inverted: Map[String, Array[(Int, Int)]] = // term → [(qIdx, pos)]
      qids.zipWithIndex.flatMap { case (q, qi) =>
        byQid(q).zipWithIndex.map { case ((t, _, _, _), pos) => (t, qi, pos) }
      }.groupBy(_._1).map { case (t, rows) => t -> rows.map(r => (r._2, r._3)) }
    // Shipping the standing-query structures: small sets ride in the task
    // closure (an ad-hoc topicMatches call must not pin a session-lifetime
    // broadcast); large sets go as ONE torrent broadcast (a closure is
    // inside every task binary, a broadcast lands once per executor — the
    // difference between ~10³ and ~10⁶ standing topics on a wide cluster).
    // The broadcast is released via the managed handle, not here — the
    // DataFrame's tasks read it for as long as the caller runs the query.
    val payload = (qids, qTermMeta, inverted)
    val (bQ, release): (() => (Array[Int], Array[Array[(Int, Long, Long)]], Map[String, Array[(Int, Int)]]), () => Unit) =
      if (inverted.size < 1024) (() => payload, () => ())
      else {
        val b = spark.sparkContext.broadcast(payload)
        (() => b.value, () => { b.destroy(); () })
      }
    val n = stats.numDocs.toDouble
    val c = stats.numTokens.toDouble
    val avgdl = c / n
    val matcher = udf { (text: String) =>
      val (qidsB, metaB, invB) = bQ()
      val toks = Analyzer.analyze(text, tag)
      val dl = toks.size.toLong
      if (dl == 0L) Seq.empty[(Int, Double)]
      else {
        val tf = new java.util.HashMap[String, Long]()
        toks.foreach(t => tf.merge(t, 1L, _ + _))
        // touched queries only: qIdx → per-position score slots
        val slots = new java.util.HashMap[Int, Array[Double]]()
        val it = tf.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          invB.get(e.getKey).foreach(_.foreach { case (qi, pos) =>
            val (mult, dfv, cfv) = metaB(qi)(pos)
            val perTerm = model.score(e.getValue.toDouble, dl, avgdl, 1.0,
              dfv.toDouble, cfv.toDouble, n, c)
            slots.computeIfAbsent(qi, _ => new Array[Double](metaB(qi).length))(pos) =
              (if (floatBoundary) perTerm.toFloat.toDouble else perTerm) * mult
          })
        }
        val out = Seq.newBuilder[(Int, Double)]
        slots.forEach { (qi, arr) =>
          var s = 0.0
          var i = 0
          while (i < arr.length) { s += arr(i); i += 1 }
          if (s >= minScore) out += ((qidsB(qi), s))
        }
        out.result()
      }
    }
    (df.select(col(idCol).as("id"), explode(matcher(col(textCol))).as("m"))
      .select(col("id"), col("m._1").as("qid"), col("m._2").as("score")),
      release)
  }

  /** Marker-name prefix for one logical stream's batch sidecars. Two
   * different streaming queries over the same index (fresh checkpoints —
   * batch ids restart at 0) MUST use different tokens, or query B's batch 0
   * would hit query A's stale `_done` marker and be silently dropped. */
  private def batchPrefix(runToken: Option[String], id: Long): String =
    runToken.fold(s"_batch_${id}_")(t => s"_run_${t}_batch_${id}_")

  /** Delete this run's batch sidecars older than `keepFromId` — foreachBatch
   * replays only the last uncommitted batch, so once batch N commits,
   * markers for batches ≤ N−2 can never be consulted again (they otherwise
   * accumulate one file set per batch, forever). */
  private def gcBatchMarkers(spark: org.apache.spark.sql.SparkSession,
                             indexDir: String, runToken: Option[String],
                             keepFromId: Long): Unit = {
    val dir = new Path(indexDir)
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fsys.exists(dir)) return
    val prefix = runToken.fold("_batch_")(t => s"_run_${t}_batch_")
    fsys.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(prefix)) {
        val idPart = n.stripPrefix(prefix).takeWhile(_.isDigit)
        if (idPart.nonEmpty && idPart.toLong < keepFromId) fsys.delete(st.getPath, false)
      }
    }
  }

  /** The high-water mark is run-agnostic: it describes the INDEX state,
   * carried across batches and across queries. */
  private val HWM = "_hwm"

  /**
   * Append one micro-batch of turns to an (possibly empty) index directory.
   *
   * The batch gets docIdNums starting at the next shard boundary past the
   * current maximum, so its shards (`docIdNum / docsPerShard`) are disjoint
   * from every earlier batch — the fused segment build then runs unchanged
   * and the shard files land under new `shard=K` partition dirs. Within a
   * batch ids follow docId-string order (DenseIds); ACROSS batches order is
   * arrival order, so score ties across batches break by arrival — the
   * standard streaming-ingest semantic (a batch rebuild re-sorts globally).
   *
   * The on-disk layout is [[graft.index.IndexBuild]]'s: the docs stage, the
   * term stats from block metadata, the dict snapshots and the marker I/O
   * are its code. What is specific to streaming stays here: the numbering
   * offset, the replay sidecars and the `_hwm` high-water mark.
   *
   * Scale contract (round-3): per-batch work is O(batch), never O(index) —
   *  - the numbering start comes from the persisted `_hwm` high-water mark
   *    (the O(docs) scan runs only on first contact with a marker-less
   *    pre-existing index);
   *  - the dictionary is merged incrementally: old dict snapshot
   *    (O(vocabulary) — sublinear in corpus size by Heaps' law) + this
   *    batch's block metadata (partition-pruned to the batch's own
   *    shards), written as the next immutable snapshot
   *    ([[graft.index.IndexBuild.dictPath]] resolves the current one).
   *    NEVER a re-aggregation of the whole postings dir (except a one-time
   *    legacy replay, see the sidecar-format note in the code).
   *
   * @param batchId Structured Streaming micro-batch id: with it set, replays
   *   of the same batch (foreachBatch is at-least-once) are IDEMPOTENT —
   *   (1) a `…_done` marker short-circuits fully-applied batches;
   *   (2) the numbering start AND the dict base version are persisted in a
   *   `…_start` sidecar (body "start:baseVersion") BEFORE any write, so a
   *   retry renumbers identically and re-merges against the same immutable
   *   dict snapshot; (3) the posting shards of a batch are deterministic
   *   from that start and written with dynamic partition overwrite, so a
   *   retry REPLACES rather than appends. The one non-idempotent step left
   *   is the docs append, guarded by its own `…_docs` marker written
   *   immediately after the job-atomic (committer v1) docs job.
   * @param runToken namespace for the batch sidecars — REQUIRED when two
   *   different streaming queries (distinct checkpoints) may ever write the
   *   same index; stable across restarts of the same checkpoint (see
   *   [[indexSink]]).
   */
  def appendBatch(turns: Dataset[Turn], indexDir: String,
                  tag: Analyzer.Tag = Analyzer.Tag.NoStem,
                  docsPerShard: Long = 1 << 20,
                  batchId: Option[Long] = None,
                  runToken: Option[String] = None): Unit = {
    val spark = turns.sparkSession
    def marker(id: Long, suffix: String) = s"$indexDir/${batchPrefix(runToken, id)}$suffix"
    if (batchId.exists(id => IndexBuild.exists(spark, marker(id, "done")))) return
    val docsDir = s"$indexDir/docs"
    val postingsDir = s"$indexDir/postings"
    IndexBuild.pinJobCommit(spark)

    // number the batch FIRST (the assignment is start-independent): the
    // counted variant returns the exact batch size from the numbering's own
    // per-partition count pass, replacing BOTH the old isEmpty probe job
    // and the max(docIdNum) aggregation job (ids are dense, so
    // newMax = start + n − 1) — two fewer jobs per micro-batch.
    val (withId0, batchN, cleanup) = DenseIds.assignCounted(
      IndexBuild.docText(turns), "docIdNum0", assumeSorted = false, col("docId"))
    if (batchN == 0L) { cleanup(); return }

    try {
      // (start, dict base version) — from the replay sidecar when present,
      // else from the index-level markers (hwm; docs scan only as first-contact
      // fallback), persisted to the sidecar before any write.
      // baseVer semantics: ≥1 = merge onto that immutable snapshot; 0 = empty
      // index (delta IS the dict); −1 = legacy sidecar without a recorded
      // base (written by the pre-snapshot code) — fall back to a FULL
      // postings re-aggregation for this one replay, which is what the old
      // code always did and is idempotent regardless of index state. Parsing
      // a legacy body as base 0 would wipe the pre-existing vocabulary.
      val (start, baseVer) = batchId.flatMap(id =>
          IndexBuild.readSmallFile(spark, marker(id, "start")).map { body =>
            val parts = body.split(':')
            (parts(0).toLong, if (parts.length > 1) parts(1).toLong else -1L)
          })
        .getOrElse {
          val hwm = IndexBuild.readSmallFile(spark, s"$indexDir/$HWM").map(_.toLong)
            .orElse(Option.when(IndexBuild.exists(spark, docsDir))(
              IndexBuild.docsExtent(spark, docsDir)._2).filter(_ >= 0L))
          val s = hwm.fold(0L)(mx => ((mx / docsPerShard) + 1) * docsPerShard) // next shard boundary
          val v = IndexBuild.snapshotBase(spark, indexDir)
          batchId.foreach(id => IndexBuild.writeSmallFile(spark, marker(id, "start"), s"$s:$v"))
          (s, v)
        }
      val withId = withId0
        .withColumn("docIdNum", col("docIdNum0") + lit(start))
        .drop("docIdNum0")

      // an index without stored corpus stats fails here, before any write
      val baseStats =
        if (baseVer <= 0L) CorpusStats(0L, 0L)
        else IndexBuild.storedStats(spark, IndexBuild.snapshotDir(indexDir, baseVer))
      val newMax = start + batchN - 1
      if (!batchId.exists(id => IndexBuild.exists(spark, marker(id, "docs")))) {
        IndexBuild.writeDocs(withId, tag, docsDir, "append")
        batchId.foreach(id => IndexBuild.writeSmallFile(spark, marker(id, "docs")))
      }

      // dynamic overwrite: a replay rewrites exactly this batch's shard
      // partitions (deterministic from `start`) instead of appending twice
      PostingsBuilder.buildSegments(withId, tag, docsPerShard)
        .toDF()
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard").parquet(postingsDir)

      // Incremental dict: old snapshot + THIS batch's block metadata only
      // (shard partition pruning bounds the read to the batch's own shards);
      // likewise the corpus stats: the base snapshot's + this batch's docs
      // (its own docIdNum range), so a replay onto the same base rewrites
      // the same snapshot.
      val postings = spark.read.schema(IndexBuild.PostingsSchema).parquet(postingsDir)
      val docs = spark.read.schema(IndexBuild.DocsSchema).parquet(docsDir)
      if (baseVer < 0L) // legacy replay: full re-agg (old semantics)
        IndexBuild.writeDictSnapshot(spark, indexDir, IndexBuild.termStatsOf(postings),
          Tokenize.corpusStats(docs), IndexBuild.dictVersion(spark, indexDir))
      else {
        val batchShards = (start / docsPerShard).toInt to (newMax / docsPerShard).toInt
        val delta = IndexBuild.termStatsOf(postings.filter(col("shard").isin(batchShards: _*)))
        val baseDir = IndexBuild.snapshotDir(indexDir, baseVer)
        val merged =
          if (baseVer == 0L) delta
          else spark.read.schema(IndexBuild.DictSchema).parquet(baseDir)
            .select("term", "df", "cf")
            .unionByName(delta)
            .groupBy("term").agg(sum("df").as("df"), sum("cf").as("cf"))
        def stats = {
          val batch = Tokenize.corpusStats(docs.filter(col("docIdNum").between(start, newMax)))
          CorpusStats(baseStats.numDocs + batch.numDocs, baseStats.numTokens + batch.numTokens)
        }
        IndexBuild.writeDictSnapshot(spark, indexDir, merged, stats, baseVer)
      }

      IndexBuild.writeSmallFile(spark, s"$indexDir/$HWM", newMax.toString)
      batchId.foreach { id =>
        IndexBuild.writeSmallFile(spark, marker(id, "done"))
        gcBatchMarkers(spark, indexDir, runToken, keepFromId = id - 1)
      }
    } finally cleanup()
  }

  /** readStream → incremental index: `stream.writeStream` wired to
   * [[appendBatch]] per micro-batch, idempotent under foreachBatch's
   * at-least-once replay via the batchId.
   *
   * @param streamToken REQUIRED namespace for this query's batch sidecars.
   *   MUST be stable for the lifetime of the query's checkpoint (derive it
   *   from the checkpoint location) so a restart replays idempotently, and
   *   MUST differ between distinct queries writing the same index (a fresh
   *   checkpoint restarts batch ids at 0 — without a distinct token the new
   *   query would hit the old one's stale markers and drop batches).
   *   There is deliberately NO default: a shared default token would
   *   recreate exactly that collision. Upgrade note: an index whose last
   *   batch was written by the pre-token marker format should finish or
   *   discard that in-flight checkpoint before switching — old un-prefixed
   *   sidecars are invisible under any token, so a replay of that one
   *   batch would re-append its docs. */
  def indexSink(stream: Dataset[Turn], indexDir: String,
                tag: Analyzer.Tag = Analyzer.Tag.NoStem,
                docsPerShard: Long = 1 << 20,
                streamToken: String): DataStreamWriter[Turn] =
    stream.writeStream.foreachBatch { (batch: Dataset[Turn], id: Long) =>
      appendBatch(batch, indexDir, tag, docsPerShard, batchId = Some(id),
        runToken = Some(streamToken))
    }
}
