package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8

import graft.index.{Codec, DocIdColumn}
import graft.model.{Block, FieldedBlock}
import graft.query.BlockMax

/** Spark-free property tests of the block-max kernel and its top-k heap:
 * random posting lists cut into small blocks across several shards, searched
 * by [[BlockMax]], must give exactly the (doc, score) list of a brute-force
 * scorer that uses the same score closures and summation order. */
class BlockMaxSpec extends AnyFunSuite {
  import BlockMaxSpec.Case

  private val Fields = Seq("title", "body", "ümlaut")
  private val Terms = Seq("a", "b", "c", "é", "z")

  private val genCase: Gen[Case] = for {
    nDocs <- Gen.choose(1, 60)
    docsPerShard <- Gen.choose(4, 30)
    blockSize <- Gen.choose(1, 4)
    nFields <- Gen.choose(1, 3)
    fields <- Gen.pick(nFields, Fields).map(_.toSeq)
    boosts <- Gen.sequence[Seq[Double], Double](fields.map(_ => Gen.oneOf(0d, 0.3, 0.5, 1d, 2d)))
    nTerms <- Gen.choose(1, 4)
    terms <- Gen.pick(nTerms, Terms).map(_.toSeq)
    weights <- Gen.sequence[Seq[Double], Double](terms.map(_ => Gen.oneOf(-0.5, 1d, 1.5, 2d)))
    dup <- Gen.oneOf(Option.empty[String], Some(terms.head))
    lists <- Gen.sequence[Seq[Seq[(Long, Long)]], Seq[(Long, Long)]](
      for (_ <- fields; _ <- terms) yield for {
        density <- Gen.oneOf(0.0, 0.1, 0.4, 0.9)
        hits <- Gen.listOfN(nDocs, Gen.choose(0d, 1d).map(_ < density))
        tfs <- Gen.listOfN(nDocs, Gen.choose(1L, 3L))
      } yield (0 until nDocs).filter(hits).map(d => (d.toLong, tfs(d))))
    lens <- Gen.listOfN(nDocs * fields.size, Gen.choose(1L, 3L))
    msm <- Gen.choose(1, nTerms)
    tie <- Gen.oneOf(0d, 0.1, 1d)
    k <- Gen.oneOf(Gen.choose(1, 4), Gen.choose(1, nDocs + 3))
    rounded <- Gen.oneOf(false, true)
  } yield {
    val pairs = for (f <- fields; t <- terms) yield (f, t)
    val query = (terms ++ dup).groupBy(identity).view.mapValues(_.size).toMap
    Case(nDocs, docsPerShard, blockSize, fields, fields.zip(boosts).toMap,
      terms.zip(weights).toMap, pairs.zip(lists).toMap,
      (for (d <- 0 until nDocs; (f, i) <- fields.zipWithIndex)
        yield (d.toLong, f) -> lens(d * fields.size + i)).toMap,
      query, msm, tie, k, rounded)
  }

  private def utf8(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)

  /** Every doc scored in full: UTF8 term order, UTF8 field order, then
   * (score desc, doc asc). */
  private def bruteForce(c: Case): List[(Double, Long)] = {
    val terms = c.query.keys.toSeq.sortBy(utf8)
    val fields = c.fields.sortBy(utf8)
    val tfOf = c.postings.map { case (key, ps) => key -> ps.toMap }
    (0L until c.nDocs).flatMap { d =>
      val termScores = terms.flatMap { t =>
        val ss = fields.flatMap(f => tfOf((f, t)).get(d).map(tf => c.score(f, t)(tf, c.docLen((d, f)))))
        if (ss.isEmpty) None
        else {
          val (mx, sm) = (ss.max, ss.foldLeft(0d)(_ + _))
          Some((mx + c.tie * (sm - mx)) * c.query(t))
        }
      }
      if (termScores.size >= c.msm) Some((c.finish(termScores.foldLeft(0d)(_ + _)), d)) else None
    }.sortBy { case (s, d) => (-s, d) }.take(c.k).toList
  }

  /** Cut every posting list with the shared block cutter, run the kernel per
   * shard, merge the shard-local top-k lists. */
  private def kernel(c: Case): List[(Double, Long)] = {
    val scratch = new Codec.Scratch()
    val blocks = c.postings.toSeq.flatMap { case ((field, term), ps) =>
      ps.groupBy(_._1 / c.docsPerShard).toSeq.flatMap { case (shard, run) =>
        val docs = run.map(_._1).toArray
        val tfs = run.map(_._2).toArray
        val dls = run.map(p => c.docLen((p._1, field))).toArray
        docs.indices.grouped(c.blockSize).zipWithIndex.map { case (ix, blockNo) =>
          Codec.cutBlock(docs, tfs, dls, ix.head, ix.last + 1, scratch)(
            FieldedBlock(shard.toInt, field, term, blockNo, _, _, _, _, _, _, _, _, _))
        }
      }
    }
    val query = BlockMax.Query(c.msm, c.query.toSeq.map { case (t, mult) =>
      BlockMax.QueryTerm(t, mult, c.fields.map(f => f -> c.score(f, t)))
    })
    blocks.groupBy(_.shard).toSeq.flatMap { case (shard, shardBlocks) =>
      val lists: Map[(String, String), Array[_ <: Block]] =
        shardBlocks.groupBy(b => (b.term, b.field)).view
          .mapValues(_.sortBy(_.minDoc).toArray).toMap
      val base = shard.toLong * c.docsPerShard
      val ids = DocIdColumn.of(Array.tabulate(c.docsPerShard)(i => s"d${base + i}".getBytes(UTF_8)))
      BlockMax.shard(lists, Map(1 -> query), c.tie, c.k, c.finish, ids, base).values.flatMap { r =>
        (0 until r.size).map { i =>
          assert(r.ids.utf8(i).toString == s"d${r.nums(i)}")
          (r.scores(i), r.nums(i))
        }
      }
    }.toList.sortBy { case (s, d) => (-s, d) }.take(c.k)
  }

  test("block-max kernel ≡ brute force (terms, fields, boosts, tie, msm, k, ties)") {
    var ties, kBeyondHits, dupTerms, msmAboveOne, multiShard = 0
    val prop = Prop.forAll(genCase) { c =>
      val want = bruteForce(c)
      val got = kernel(c)
      if (want.sliding(2).exists(p => p.size == 2 && p(0)._1 == p(1)._1)) ties += 1
      if (c.k > want.size) kBeyondHits += 1
      if (c.query.values.exists(_ == 2)) dupTerms += 1
      if (c.msm > 1) msmAboveOne += 1
      if (c.nDocs > c.docsPerShard) multiShard += 1
      Prop(got == want) :| s"$c\n want $want\n got  $got"
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(400).withWorkers(1).withInitialSeed(Seed(20261018L))
    val res = Test.check(params, prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
    Seq(ties, kBeyondHits, dupTerms, msmAboveOne, multiShard).foreach(n => assert(n > 20))
  }

  /** The docId of doc d in the heap property: 1- to 4-byte UTF-8
   * characters, and null for every seventh doc. */
  private def docId(d: Long): String =
    if (d % 7 == 3) null else s"d$d-é東${new String(Character.toChars(0x10400 + (d % 5).toInt))}"

  test("top-k heap ≡ sort by (score desc, doc asc) then take k (heavy ties, -0.0 and 0.0, k up to Int.MaxValue)") {
    val genStream: Gen[(Seq[(Double, Long)], Int)] = for {
      n <- Gen.choose(0, 60)
      values <- Gen.oneOf(Seq(-0.0, 0.0), Seq(-0.0, 0.0, 1d), Seq(0d, 2.5), Seq(-1d, -0.0, 3d), Seq(1d, 1.5))
      scores <- Gen.listOfN(n, Gen.oneOf(values))
      gaps <- Gen.listOfN(n, Gen.choose(1L, 3L))
      k <- Gen.oneOf(Gen.const(1), Gen.choose(2, 20), Gen.choose(n + 1, n + 5), Gen.const(Int.MaxValue))
    } yield (scores.zip(gaps.scanLeft(0L)(_ + _).tail), k) // docs ascending
    var cut, kBeyondN, kMax, signedZeros = 0
    val prop = Prop.forAll(genStream) { case (stream, k) =>
      val heap = new BlockMax.TopK(k)
      stream.foreach { case (score, doc) => heap.offer(score, doc) }
      // the docIds of docs 1 to 3n, as a resident shard with base 1 holds them
      val base = 1L
      val ids = DocIdColumn.of(Array.tabulate(stream.size * 3 + 1)(i =>
        Option(docId(base + i)).map(_.getBytes(UTF_8)).orNull))
      val got = heap.drain(ids, base)
      // -0.0 == 0.0: one score, as in the admission test `score > θ`
      val want = stream.sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)).take(k)
      if (k < stream.size) cut += 1
      if (k > stream.size) kBeyondN += 1
      if (k == Int.MaxValue) kMax += 1
      if (want.exists(_._1.equals(-0.0)) && want.exists(_._1.equals(0.0))) signedZeros += 1
      Prop(got.nums.toSeq == want.map(_._2) && got.scores.toSeq == want.map(_._1) &&
        (0 until got.size).map(i => Option(got.ids.utf8(i)).map(_.toString).orNull) ==
          want.map(w => docId(w._2))) :|
        s"k=$k stream=$stream\n want $want\n got  ${got.scores.zip(got.nums).toSeq}"
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(1000).withWorkers(1).withInitialSeed(Seed(20261020L))
    val res = Test.check(params, prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
    Seq(cut, kBeyondN, kMax, signedZeros).foreach(n => assert(n > 50))
  }
}

object BlockMaxSpec {

  /** One case: postings per (field, term) as (doc, tf), per-(doc, field)
   * lengths, and the query and kernel settings. */
  final case class Case(nDocs: Int, docsPerShard: Int, blockSize: Int,
                        fields: Seq[String], boosts: Map[String, Double],
                        weights: Map[String, Double],
                        postings: Map[(String, String), Seq[(Long, Long)]],
                        docLen: Map[(Long, String), Long],
                        query: Map[String, Int], msm: Int, tie: Double, k: Int,
                        rounded: Boolean) {
    def score(field: String, term: String): (Long, Long) => Double = {
      val (boost, w) = (boosts(field), weights(term))
      (tf, dl) => boost * (w * tf / (tf + dl)).toFloat.toDouble
    }
    val finish: Double => Double =
      if (rounded) d => BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      else d => d.toFloat.toDouble
  }
}
