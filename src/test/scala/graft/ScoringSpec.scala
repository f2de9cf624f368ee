package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.query.{Scoring, StockLucene}
import graft.query.Scoring._

/** Model formula checks against values computed straight from the reference
 * formulas (files under `edu/anadolu/similarities/`), plus the model-name
 * parser round-trip (`cmdline/ParamTest.java:17-47`). */
class ScoringSpec extends AnyFunSuite {

  // a fixed stats point: tf=3, dl=100, df=50, cf=120, N=1000, C=80000
  private val (tf, dl, df, cf, n, c) = (3.0, 100L, 50.0, 120.0, 1000.0, 80000.0)
  private val avgdl = c / n // 80.0

  private def log2(x: Double) = math.log(x) / math.log(2.0)

  test("BM25 fixed-parameter formula (BM25.java:39-43)") {
    val k1 = 1.2; val b = 0.75; val k3 = 8.0
    val bigK = k1 * ((1 - b) + b * dl / avgdl) + tf
    val want = (tf * (k3 + 1) * 1.0 / ((k3 + 1.0) * bigK)) * log2((n - df + 0.5) / (df + 0.5))
    assert(BM25.score(tf, dl, avgdl, 1.0, df, cf, n, c) == want)
  }

  test("BM25c matches BM25 at k1=1.2 b=0.75") {
    assert(BM25c(1.2, 0.75).score(tf, dl, avgdl, 1.0, df, cf, n, c)
      == BM25.score(tf, dl, avgdl, 1.0, df, cf, n, c))
  }

  test("DirichletLM formula (DirichletLM.java:26-29)") {
    val mu = 2500.0
    val want = log2(1 + tf / (mu * (cf / c))) + log2(mu / (dl + mu))
    assert(DirichletLM().score(tf, dl, avgdl, 1.0, df, cf, n, c) == want)
  }

  test("DFIC gate: 0 when tf <= e_ij (DFIC.java:37-38)") {
    // e_ij = cf*dl/c = 120*100/80000 = 0.15 ; tf=0.1 <= e → 0
    assert(DFIC.score(0.1, dl, avgdl, 1.0, df, cf, n, c) == 0.0)
    assert(DFIC.score(tf, dl, avgdl, 1.0, df, cf, n, c) > 0.0)
  }

  test("relativeFrequency clamp at tf == docLen (ModelBase.java:41-47)") {
    assert(Scoring.relFreq(5, 5) == 0.99999)
    assert(Scoring.relFreq(3, 5) == 0.6)
    // DPH must stay finite at tf == dl
    val s = DPH.score(5, 5, avgdl, 1.0, df, cf, n, c)
    assert(!s.isNaN && !s.isInfinite)
  }

  test("MATF formula (MATF.java:100-195; uniqueTerms=1 per MATF.java:35)") {
    val qlen = 3
    def sub(x: Double) = x / (1 + x)
    val ritf = log2(1 + tf) / log2(1 + dl.toDouble)
    val lrtf = tf * log2(1 + avgdl / dl)
    val w = 2.0 / (1 + log2(1 + qlen.toDouble))
    val tff = w * sub(ritf) + (1 - w) * sub(lrtf)
    val tdf = log2((n + 1) / df) * sub(cf / df)
    assert(MATF(qlen).score(tf, dl, avgdl, 1.0, df, cf, n, c) == tff * tdf)
    assert(MATF(qlen).ubSafe) // monotone ↑tf ↓dl → block-max safe
  }

  test("DPHp clamps DPH at zero (DPHp.java:10-14)") {
    // near tf≈dl DPH goes negative; DPHp must clamp
    val neg = DPH.score(99, 100L, avgdl, 1.0, df, cf, n, c)
    if (neg < 0) assert(DPHp.score(99, 100L, avgdl, 1.0, df, cf, n, c) == 0.0)
    assert(DPHp.score(tf, dl, avgdl, 1.0, df, cf, n, c)
      == math.max(0, DPH.score(tf, dl, avgdl, 1.0, df, cf, n, c)))
    assert(Scoring.parse("DPHp") == DPHp)
    assert(Scoring.parse("MATF") == MATF())
  }

  test("PL2 equals PL2c(1)") {
    assert(PL2c(1.0).name == "PL2")
    val s = PL2c(1.0).score(tf, dl, avgdl, 1.0, df, cf, n, c)
    assert(!s.isNaN && !s.isInfinite && s > 0)
  }

  test("LGD with L2 normalization (LGD.java:39-44)") {
    val tfn = tf * log2(1.0 + avgdl / dl)
    val lambda = df / n
    val want = log2((lambda + tfn) / lambda)
    assert(LGDc(1.0).score(tf, dl, avgdl, 1.0, df, cf, n, c) == want)
  }

  test("TF normalizations L0/L1/L2 (freq/L{0,1,2}.java)") {
    assert(L0.tfn(tf, dl, avgdl) == tf)
    assert(L1.tfn(tf, dl, avgdl) == tf * avgdl / dl)
    assert(L2.tfn(tf, dl, avgdl) == tf * log2(1.0 + avgdl / dl))
  }

  test("Delegate gates any model by e_ij (Delegate.java:17-26)") {
    val d = Delegate(RawTF)
    assert(d.score(0.1, dl, avgdl, 1.0, df, cf, n, c) == 0.0)
    assert(d.score(tf, dl, avgdl, 1.0, df, cf, n, c) == tf)
  }

  test("model-name parse round-trip (ParamTool.string2model:93-111)") {
    assert(Scoring.parse("BM25k1.6b0.4") == BM25c(1.6, 0.4))
    assert(Scoring.parse("BM25k1.6b0.4").name == "BM25k1.6b0.4")
    assert(Scoring.parse("LGDc2.0") == LGDc(2.0))
    assert(Scoring.parse("LGDc2.0").name == "LGDc2.0")
    assert(Scoring.parse("PL2c10.0") == PL2c(10.0))
    assert(Scoring.parse("DirichletLMc500.0") == DirichletLM(500.0))
    assert(Scoring.parse("DPH") == DPH)
    intercept[IllegalArgumentException](Scoring.parse("NoSuchModel"))
  }

  test("all zoo models produce finite scores on the fixed point") {
    Scoring.zoo.foreach { m =>
      val s = m.score(tf, dl, avgdl, 1.0, df, cf, n, c)
      assert(!s.isNaN && !s.isInfinite, s"${m.name} -> $s")
    }
  }

  test("bind ≡ score bit for bit: every zoo and stock-grid model, and BM25c points") {
    val models = Scoring.zoo ++ StockLucene.grid ++
      Seq(BM25c(0.1, 0.0), BM25c(1.6, 0.4), BM25c(2.0, 1.0), BM25c(0.75, 0.3))
    // 1 ≤ df ≤ N, cf ≥ df, C ≥ N, avgdl = C/N; tf ∈ [0, 50], docLen ∈ [1, 10⁴]
    val genPoint = for {
      n <- Gen.choose(1L, 1000000L)
      df <- Gen.oneOf(Gen.const(1L), Gen.const(n), Gen.choose(1L, n))
      cf <- Gen.oneOf(Gen.const(df), Gen.choose(df, df * 60))
      c <- Gen.choose(math.max(n, cf), math.max(n, cf) * 500)
      kf <- Gen.oneOf(1d, 2d, 0.5)
      postings <- Gen.listOfN(8, Gen.zip(Gen.choose(0L, 50L), Gen.oneOf(Gen.choose(1L, 10L), Gen.choose(1L, 10000L))))
    } yield (n, df, cf, c, kf, postings)
    val prop = Prop.forAllNoShrink(genPoint) { case (n, df, cf, c, kf, postings) =>
      val avgdl = c.toDouble / n.toDouble
      val bad = for {
        m <- models
        bound = m.bind(avgdl, kf, df.toDouble, cf.toDouble, n.toDouble, c.toDouble)
        (tf, dl) <- postings
        want = m.score(tf.toDouble, dl, avgdl, kf, df.toDouble, cf.toDouble, n.toDouble, c.toDouble)
        got = bound(tf, dl)
        if java.lang.Double.doubleToRawLongBits(got) != java.lang.Double.doubleToRawLongBits(want)
      } yield s"${m.name} tf=$tf dl=$dl: bind=$got score=$want"
      Prop(bad.isEmpty) :| bad.take(5).mkString(s"N=$n df=$df cf=$cf C=$c kf=$kf\n", "\n", "")
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(1000).withWorkers(1).withInitialSeed(Seed(20261021L))
    val res = Test.check(params, prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
  }

  test("column expressions agree bit-for-bit with scala formulas across the zoo") {
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.functions.{col, lit}
    val rows = Seq(
      (1.0, 10L, 2.0, 3.0), (3.0, 100L, 50.0, 120.0), (7.0, 7L, 1.0, 7.0),
      (2.0, 333L, 999.0, 5000.0), (1.0, 1L, 1.0, 1.0))
    val df0 = spark.createDataFrame(rows).toDF("tf", "docLen", "df", "cf")
    val in = Scoring.In(col("tf"), col("docLen").cast("double"),
      col("df"), col("cf"), lit(1.0d), lit(n), lit(c))
    Scoring.zoo.foreach { m =>
      val got = df0.select(m.expr(in)).collect().map(_.getDouble(0))
      val want = rows.map { case (tf, dl, df, cf) =>
        m.score(tf, dl, c / n, 1.0, df, cf, n, c)
      }
      got.zip(want).zip(rows).foreach { case ((g, w), r) =>
        assert(java.lang.Double.doubleToLongBits(g) == java.lang.Double.doubleToLongBits(w),
          s"${m.name} at $r: expr=$g scala=$w")
      }
    }
  }
}
