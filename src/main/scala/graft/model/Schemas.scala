package graft.model

import java.sql.Timestamp

/**
 * Core data model of the engine (SURVEY.md §1).
 *
 * The corpus unit is a transcript *turn* (reference analog: a WARC document,
 * `/root/reference/src/main/java/edu/anadolu/Indexer.java:101-130`). The stable
 * document identity is `conv_id + "#" + turn_idx` — the "stable turn ordering"
 * invariant from BASELINE.json's input hint.
 */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String, // nullable
    ts: Timestamp)

/** One tokenized (doc, term) pair with its in-document frequency.
 * Reference analog: a Lucene posting (docID, tf) — DOCS_AND_FREQS only,
 * no positions (`Indexer.java:66-79`). */
final case class TermDoc(term: String, docId: String, tf: Long)

/** Per-document length = analyzed token count. Reference stores this as the
 * norm: `state.getLength() - state.getNumOverlap()`
 * (`org/apache/lucene/search/similarities/ModelBase.java:253-256`); our
 * analyzer chains emit no overlapping tokens so docLen == token count. */
final case class DocLen(docId: String, docLen: Long)

/** Dictionary entry: per-term document frequency (df) and collection
 * frequency (cf / totalTermFreq). Reference analog:
 * `ModelBase.fillBasicStats` (`ModelBase.java:70-100`). */
final case class DictEntry(term: String, termId: Long, df: Long, cf: Long)

/** One-row corpus statistics: N = docCount, C = sumTotalTermFreq.
 * avgdl is always derived as C/N (`ModelBase.java:117`). */
final case class CorpusStats(numDocs: Long, numTokens: Long) {
  def avgDocLen: Double = numTokens.toDouble / numDocs.toDouble
}

/** A topic / information need (reference: `org/clueweb09/InfoNeed.java:13-50`). */
final case class Topic(qid: Int, query: String)

/** A relevance judgement (reference: `tracks/Track.java:102-113`). */
final case class Qrel(qid: Int, docId: String, judge: Int)

/** One TREC run row: `qid Q0 docID rank score runTag`
 * (reference: `Searcher.java:204-226`). */
final case class RunRow(qid: Int, docId: String, rank: Int, score: Float, tag: String)

/** What the block-max kernel ([[graft.query.BlockMax]]) reads of a
 * compressed posting block: where it lives (shard, term), its doc range and
 * block-max metadata, and the three encoded columns ([[graft.index.Codec]]). */
trait Block {
  def shard: Int
  def term: String
  def n: Int
  def minDoc: Long
  def maxDoc: Long
  def maxTf: Long
  def minDocLen: Long
  def docBytes: Array[Byte]
  def tfBytes: Array[Byte]
  def dlBytes: Array[Byte]
}

/**
 * One compressed posting block (SURVEY.md §7.2). Postings of a term are split
 * into fixed-size blocks of (docId, tf) pairs sorted by docId; docIds are
 * delta+varint encoded, tfs varint encoded. Block-max metadata (`maxTf`,
 * `minDocLen`) yields an upper bound on any score inside the block — the
 * skip condition of Block-Max WAND. Reference analog: Lucene skip lists +
 * block postings (invoked at `Searcher.java:182`), made explicit here.
 */
final case class PostingBlock(
    shard: Int,        // document shard (docIdNum range) this block belongs to
    term: String,      // parquet dictionary-encodes; row-group stats prune scans
    blockNo: Int,      // ordinal within (shard, term) — readers order by minDoc
    n: Int,            // number of postings in this block
    minDoc: Long,      // first (numeric) docId in block
    maxDoc: Long,      // last (numeric) docId in block
    maxTf: Long,       // max term frequency within block
    sumTf: Long,       // Σ tf within block (dict cf derives from block metadata)
    minDocLen: Long,   // min docLen within block (tightens the BM25 upper bound)
    docBytes: Array[Byte],  // delta+varint docIdNums
    tfBytes: Array[Byte],   // varint (tf-1)
    dlBytes: Array[Byte])   // varint (docLen-1), denormalized norms
    extends Block

/** Per-document identity map: stable string key ↔ dense numeric id whose
 * ascending order equals the docId string order (tie-break invariant). */
final case class DocEntry(docId: String, docIdNum: Long, docLen: Long)

/** One compressed posting block of a (field, term) posting list in the
 * prebuilt fielded index — [[PostingBlock]] plus the field key, carrying the
 * same block-max metadata so the fielded retrieval path can run a WAND-style
 * early-terminating loop (reference analog: the per-field Lucene indexes
 * searched at `Searcher.java:232-323`, each with its own skip lists).
 * docLen here is the PER-FIELD analyzed length (per-field norms, as one
 * Lucene index per field would store). */
final case class FieldedBlock(
    shard: Int,        // document shard (docIdNum range) this block belongs to
    field: String,
    term: String,      // files sorted (field, term, doc) → row-group pruning
    blockNo: Int,      // ordinal within a build-partition run — readers order by minDoc
    n: Int,
    minDoc: Long,
    maxDoc: Long,
    maxTf: Long,
    sumTf: Long,
    minDocLen: Long,   // min PER-FIELD docLen within block
    docBytes: Array[Byte],
    tfBytes: Array[Byte],
    dlBytes: Array[Byte])
    extends Block
