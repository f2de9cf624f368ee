package graft.query

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Term-weighting model zoo (SURVEY.md §2.4).
 *
 * Every model is one pure function of
 * `(tf, docLength, avgDocLength, keyFrequency, df, cf, N, C)` — the exact
 * signature of the reference's `ModelBase.score`
 * (`/root/reference/src/main/java/org/apache/lucene/search/similarities/
 * ModelBase.java:178-184`). Each model is provided twice from the same
 * formula:
 *
 *  - [[Model.score]] — pure Scala doubles. This is the oracle/test side and
 *    reproduces the reference's double math operation-for-operation,
 *    including `log2(x) = ln x / ln 2` (`ModelBase.java:263-266`) and the
 *    `relativeFrequency` clamp (`ModelBase.java:41-47`).
 *  - [[Model.expr]] — native Catalyst column arithmetic (no UDF), so the
 *    scoring stays inside whole-stage codegen and corpus constants fold.
 *
 * Scores are cast to float at the per-term boundary (`ModelBase.java:145`)
 * before OR-summing (`ModelBase.java:209-225`) — rank-identity depends on
 * preserving that tie structure.
 */
object Scoring {

  // Scalar math mirrors Catalyst codegen, which emits java.lang.StrictMath
  // for log/pow — Math.log differs from StrictMath.log by 1 ulp on some
  // inputs, which would break the BMW ≡ exact-path bit-identity invariant.
  // (The reference uses Math.log; divergence is ≤1 ulp pre-float-cast.)
  val LN2: Double = StrictMath.log(2.0) // == Math.log(2.0) bit-for-bit
  /** log2(e), as the reference's ModelBase.LOG_2_OF_E. */
  val LOG_2_OF_E: Double = 1.0d / LN2

  @inline def log2(x: Double): Double = StrictMath.log(x) / LN2
  def log2c(x: Column): Column = log(x) / lit(LN2)

  /** `relativeFrequency` clamp: tf/dl, but 0.99999 when tf == dl
   * (`ModelBase.java:41-47`). */
  @inline def relFreq(tf: Double, dl: Double): Double =
    if (tf < dl) tf / dl else 0.99999

  def relFreqC(tf: Column, dl: Column): Column =
    when(tf < dl, tf / dl).otherwise(lit(0.99999))

  /** All inputs a model sees, as columns. avgdl is always C/N
   * (`ModelBase.java:117`). `qLen` (analyzed query word count, Σ mult) is
   * only read by query-sensitive models (MATF's QLF). */
  final case class In(tf: Column, docLen: Column, df: Column, cf: Column,
                      kf: Column, n: Column, c: Column,
                      qLen: Column = lit(1.0d)) {
    def avgdl: Column = c / n
  }

  // not sealed: the stock-Lucene grid (StockLucene.scala) extends it
  trait Model extends Serializable {
    def name: String
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double
    def expr(in: In): Column
    /** [[score]] with every argument but (tf, docLen) bound: the scorer of
     * one term in one field. An override computes the per-term constants
     * (an idf's logarithm, say) once, here, instead of once per posting,
     * and keeps `score`'s order of operations, so its results equal
     * `score`'s bit for bit. */
    def bind(avgdl: Double, kf: Double, df: Double, cf: Double, n: Double, c: Double): (Long, Long) => Double =
      (tf, docLen) => score(tf.toDouble, docLen, avgdl, kf, df, cf, n, c)
    /** True iff `score(maxTf, minDocLen)` is a valid per-block upper bound,
     * i.e. the model is monotone non-decreasing in tf and non-increasing in
     * docLen. Block-Max WAND is only sound for such models; non-monotone
     * ones (DPH/DLH13/DFRee's `(1-tf/dl)²` collapse, PL2's tfn dip) must take
     * the exact path. */
    def ubSafe: Boolean = true
    override def toString: String = name
  }

  /** Okapi BM25, fixed k1=1.2, k3=8, b=0.75
   * (`edu/anadolu/similarities/BM25.java:39-43`). */
  case object BM25 extends Model {
    val name = "BM25"
    private val fixed = BM25c(1.2, 0.75)
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double =
      fixed.score(tf, docLen, avgdl, kf, df, cf, n, c)
    override def bind(avgdl: Double, kf: Double, df: Double, cf: Double, n: Double,
                      c: Double): (Long, Long) => Double = fixed.bind(avgdl, kf, df, cf, n, c)
    def expr(in: In): Column = fixed.expr(in)
  }

  /** Parameterized BM25 (`BM25c.java:27-32`); the north rule's flagship is
   * BM25c(k1=0.9, b=0.4). */
  final case class BM25c(k1: Double, b: Double) extends Model {
    val name = s"BM25k${k1}b$b"
    private val k3 = 8d
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double = {
      val bigK = k1 * ((1 - b) + b * docLen / avgdl) + tf
      (tf * (k3 + 1d) * kf / ((k3 + kf) * bigK)) *
        log2((n - df + 0.5d) / (df + 0.5d))
    }
    override def bind(avgdl: Double, kf: Double, df: Double, cf: Double, n: Double,
                      c: Double): (Long, Long) => Double = {
      val idf = log2((n - df + 0.5d) / (df + 0.5d))
      (tf, docLen) => {
        val bigK = k1 * ((1 - b) + b * docLen / avgdl) + tf
        (tf * (k3 + 1d) * kf / ((k3 + kf) * bigK)) * idf
      }
    }
    def expr(in: In): Column = {
      val bigK = lit(k1) * (lit(1 - b) + lit(b) * in.docLen / in.avgdl) + in.tf
      (in.tf * lit(k3 + 1d) * in.kf / ((lit(k3) + in.kf) * bigK)) *
        log2c((in.n - in.df + lit(0.5d)) / (in.df + lit(0.5d)))
    }
  }

  /** Dirichlet language model (`DirichletLM.java:26-29`), default µ=2500. */
  final case class DirichletLM(mu: Double = 2500d) extends Model {
    val name = s"DirichletLMc$mu"
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double =
      log2(1 + (tf / (mu * (cf / c)))) + log2(mu / (docLen + mu))
    def expr(in: In): Column =
      log2c(lit(1) + (in.tf / (lit(mu) * (in.cf / in.c)))) +
        log2c(lit(mu) / (in.docLen + lit(mu)))
  }

  /** LM with Dirichlet smoothing, log-ratio form (`LMDIR.java:24-28`), µ=2000. */
  final case class LMDIR(mu: Double = 2000d) extends Model {
    val name = s"LMDIRc$mu"
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double =
      log2((tf + mu * (cf / c)) / (docLen + mu))
    def expr(in: In): Column =
      log2c((in.tf + lit(mu) * (in.cf / in.c)) / (in.docLen + lit(mu)))
  }

  /** LM absolute discounting (`LMABS.java:29-36`), δ=0.7. */
  final case class LMABS(delta: Double = 0.7) extends Model {
    val name = s"LMABSc$delta"
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double =
      log2((math.max(tf - delta, 0) / docLen) + ((delta * kf) / docLen) * (cf / c))
    def expr(in: In): Column =
      log2c((greatest(in.tf - lit(delta), lit(0d)) / in.docLen) +
        ((lit(delta) * in.kf) / in.docLen) * (in.cf / in.c))
  }

  /** LM Jelinek-Mercer (`LMJM.java:23-31`), λ=0.1. */
  final case class LMJM(lambda: Double = 0.1) extends Model {
    val name = s"LMJMc$lambda"
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double =
      log2(((1 - lambda) * tf / docLen) + (lambda * (cf / c)))
    def expr(in: In): Column =
      log2c((lit(1 - lambda) * in.tf / in.docLen) + (lit(lambda) * (in.cf / in.c)))
  }

  /** PL2 divergence-from-randomness (`PL2.java:35-47` / `PL2c.java:12-24`);
   * PL2 ≡ PL2c(c=1). */
  final case class PL2c(cParam: Double = 1d) extends Model {
    val name = if (cParam == 1d) "PL2" else s"PL2c$cParam"
    override val ubSafe = false // 0.5·log2(2π·tfn) dips below zero near tfn≈0
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double = {
      val tfn = tf * log2(1.0d + (cParam * avgdl) / docLen)
      val norm = 1.0d / (tfn + 1d)
      val f = (1.0d * cf) / (1.0d * n)
      norm * kf * (tfn * log2(1.0d / f) + f * LOG_2_OF_E +
        0.5d * log2(2 * math.Pi * tfn) + tfn * (log2(tfn) - LOG_2_OF_E))
    }
    def expr(in: In): Column = {
      val tfn = in.tf * log2c(lit(1.0d) + (lit(cParam) * in.avgdl) / in.docLen)
      val norm = lit(1.0d) / (tfn + lit(1d))
      val f = in.cf / in.n
      norm * in.kf * (tfn * log2c(lit(1.0d) / f) + f * lit(LOG_2_OF_E) +
        lit(0.5d) * log2c(lit(2 * math.Pi) * tfn) + tfn * (log2c(tfn) - lit(LOG_2_OF_E)))
    }
  }

  /** LGD log-logistic (`LGDc.java:22-30`); LGD(L2) ≡ LGDc(c=1)
   * (`LGD.java:33-48` with the L2 normalization `freq/L2.java:20-23`). */
  final case class LGDc(cParam: Double = 1d) extends Model {
    val name = if (cParam == 1d) "LGD" else s"LGDc$cParam"
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double = {
      val tfn = tf * log2(1.0d + (cParam * avgdl) / docLen)
      val freq = (1.0d * df) / (1.0d * n)
      kf * log2((freq + tfn) / freq)
    }
    def expr(in: In): Column = {
      val tfn = in.tf * log2c(lit(1.0d) + (lit(cParam) * in.avgdl) / in.docLen)
      val freq = in.df / in.n
      in.kf * log2c((freq + tfn) / freq)
    }
  }

  /** DPH hypergeometric, parameter-free (`DPH.java:42-53`). */
  case object DPH extends Model {
    val name = "DPH"
    override val ubSafe = false // (1−tf/dl)² factor collapses toward tf≈dl
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double = {
      val f = relFreq(tf, docLen)
      val norm = (1d - f) * (1d - f) / (tf + 1d)
      kf * norm * (tf * log2((tf * avgdl / docLen) * (n / cf)) +
        0.5d * log2(2d * math.Pi * tf * (1d - f)))
    }
    def expr(in: In): Column = {
      val f = relFreqC(in.tf, in.docLen.cast("double"))
      val norm = (lit(1d) - f) * (lit(1d) - f) / (in.tf + lit(1d))
      in.kf * norm * (in.tf * log2c((in.tf * in.avgdl / in.docLen) * (in.n / in.cf)) +
        lit(0.5d) * log2c(lit(2d * math.Pi) * in.tf * (lit(1d) - f)))
    }
  }

  /** DLH13 (`DLH13.java:22-31`, k=0.5 from `DLH.java:18`). */
  case object DLH13 extends Model {
    val name = "DLH13"
    override val ubSafe = false // non-monotone in tf via the (1−tf/dl) term
    private val k = 0.5d
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double = {
      val f = relFreq(tf, docLen)
      kf * (tf * log2((tf * avgdl / docLen) * (n / cf)) +
        0.5d * log2(2d * math.Pi * tf * (1d - f))) / (tf + k)
    }
    def expr(in: In): Column = {
      val f = relFreqC(in.tf, in.docLen.cast("double"))
      in.kf * (in.tf * log2c((in.tf * in.avgdl / in.docLen) * (in.n / in.cf)) +
        lit(0.5d) * log2c(lit(2d * math.Pi) * in.tf * (lit(1d) - f))) / (in.tf + lit(k))
    }
  }

  /** DFRee, parameter-free (`DFRee.java:45-66`). */
  case object DFRee extends Model {
    val name = "DFRee"
    override val ubSafe = false // cross terms are non-monotone in tf
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double = {
      val prior = tf / docLen
      val posterior = (tf + 1d) / (docLen + 1)
      val invPriorCollection = c / cf
      val norm = tf * log2(posterior / prior)
      kf * norm * (
        tf * (-log2(prior * invPriorCollection)) +
          (tf + 1d) * log2(posterior * invPriorCollection) +
          0.5 * log2(posterior / prior))
    }
    def expr(in: In): Column = {
      val prior = in.tf / in.docLen
      val posterior = (in.tf + lit(1d)) / (in.docLen + lit(1))
      val ipc = in.c / in.cf
      val norm = in.tf * log2c(posterior / prior)
      in.kf * norm * (
        in.tf * (-log2c(prior * ipc)) +
          (in.tf + lit(1d)) * log2c(posterior * ipc) +
          lit(0.5) * log2c(posterior / prior))
    }
  }

  /** DFI chi-square; returns 0 when tf ≤ e_ij = cf·dl/C (`DFIC.java:33-43`). */
  case object DFIC extends Model {
    val name = "DFIC"
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double = {
      val eij = (cf * docLen) / c
      if (tf <= eij) 0d
      else kf * log2(StrictMath.pow(tf - eij, 2) / eij + 1)
    }
    def expr(in: In): Column = {
      val eij = (in.cf * in.docLen) / in.c
      when(in.tf <= eij, lit(0d))
        .otherwise(in.kf * log2c(pow(in.tf - eij, 2) / eij + lit(1)))
    }
  }

  /** DFI z-score variant (`DFIZ.java`). */
  case object DFIZ extends Model {
    val name = "DFIZ"
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double = {
      val eij = (cf * docLen) / c
      if (tf <= eij) 0d
      else kf * log2((tf - eij) / math.sqrt(eij) + 1)
    }
    def expr(in: In): Column = {
      val eij = (in.cf * in.docLen) / in.c
      when(in.tf <= eij, lit(0d))
        .otherwise(in.kf * log2c((in.tf - eij) / sqrt(eij) + lit(1)))
    }
  }

  /** DPH clamped at zero (`DPHp.java:10-14`): `f < 0 ? 0 : f`. */
  case object DPHp extends Model {
    val name = "DPHp"
    override val ubSafe = false // same non-monotone core as DPH
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double = {
      val f = DPH.score(tf, docLen, avgdl, kf, df, cf, n, c)
      if (f < 0) 0d else f
    }
    def expr(in: In): Column = {
      val f = DPH.expr(in)
      when(f < lit(0d), lit(0d)).otherwise(f)
    }
  }

  /**
   * Multi-Aspect Term Frequency (`similarities/MATF.java:14-202`; Paik,
   * "A novel TF-IDF weighting scheme for effective ranking", SIGIR 2013):
   * score = TFF · TDF with
   *   RITF = log2(1+tf)/log2(1+avgTF),  LRTF = tf·log2(1+avgdl/dl),
   *   TFF  = w·σ(RITF) + (1−w)·σ(LRTF), w = 2/(1+log2(1+|q|)),
   *   TDF  = log2((N+1)/df) · σ(cf/df), σ(x) = x/(1+x).
   *
   * The reference hardcodes uniqueTerms = 1 (its own TODO at
   * `MATF.java:35`), making avgTF = docLength — kept here for
   * reference-faithful scores. `queryLength` is the reference's
   * maxOverlap (`Searcher.java:351`, the query word count); the column
   * side reads it from [[In.qLen]] so one plan can score many queries.
   * Monotone ↑tf / ↓docLen ⇒ block-max safe; note a single MATF instance
   * only matches its own queryLength on the scalar side.
   */
  final case class MATF(queryLength: Int = 1) extends Model {
    val name = "MATF"
    private def sub(x: Double): Double = x / (1 + x)
    private def subC(x: Column): Column = x / (lit(1) + x)
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double = {
      val ritf = log2(1 + tf) / log2(1 + docLen.toDouble) // avgTF = dl/1
      val lrtf = tf * log2(1 + avgdl / docLen)
      val w = 2d / (1 + log2(1 + queryLength.toDouble))
      val tff = w * sub(ritf) + (1 - w) * sub(lrtf)
      val tdf = log2((n + 1) / df) * sub(cf / df)
      tff * tdf
    }
    def expr(in: In): Column = {
      val ritf = log2c(lit(1) + in.tf) / log2c(lit(1) + in.docLen)
      val lrtf = in.tf * log2c(lit(1) + in.avgdl / in.docLen)
      val w = lit(2d) / (lit(1) + log2c(lit(1) + in.qLen))
      val tff = w * subC(ritf) + (lit(1) - w) * subC(lrtf)
      val tdf = log2c((in.n + lit(1)) / in.df) * subC(in.cf / in.df)
      tff * tdf
    }
  }

  /** MVD, faithful to the reference AS SHIPPED: `MVD.java:16-18` returns 0
   * for every posting — the maximum-value-distribution machinery in its
   * inner `Stats` class (`MVD.java:44-178`) is unreachable dead code
   * (`numberOfUniqueTerms` stubs to −1). Reproducing the formula would
   * *diverge* from the reference's observable behavior, so this scores 0. */
  case object MVD extends Model {
    val name = "MVD"
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double = 0d
    def expr(in: In): Column = lit(0d)
  }

  /** Robertson TF × Sparck-Jones IDF (`TFIDF.java:30-35`, k1=1.2, b=0.75). */
  case object TFIDF extends Model {
    val name = "TFIDF"
    private val k1 = 1.2d; private val b = 0.75d
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double = {
      val rtf = k1 * tf / (tf + k1 * (1 - b + b * docLen / avgdl))
      val idf = log2(n / df + 1)
      kf * rtf * idf
    }
    def expr(in: In): Column = {
      val rtf = lit(k1) * in.tf / (in.tf + lit(k1) * (lit(1 - b) + lit(b) * in.docLen / in.avgdl))
      in.kf * rtf * log2c(in.n / in.df + lit(1))
    }
  }

  /** Raw term frequency (`RawTF.java:10-13`). */
  case object RawTF extends Model {
    val name = "RawTF"
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double = tf
    def expr(in: In): Column = in.tf
  }

  /** tf/dl (`MetaTerm.java:15-18`). */
  case object MetaTerm extends Model {
    val name = "MetaTerm"
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double = tf / docLen
    def expr(in: In): Column = in.tf / in.docLen
  }

  /** TF normalizations L0/L1/L2 (`freq/L0.java:14-17`, `L1.java:18-21`,
   * `L2.java:20-23`). */
  sealed trait TFNorm extends Serializable {
    def name: String
    def tfn(tf: Double, dl: Long, avgdl: Double): Double
    def tfnC(tf: Column, dl: Column, avgdl: Column): Column
  }
  case object L0 extends TFNorm {
    val name = "L0"
    def tfn(tf: Double, dl: Long, avgdl: Double): Double = tf
    def tfnC(tf: Column, dl: Column, avgdl: Column): Column = tf
  }
  case object L1 extends TFNorm {
    val name = "L1"
    def tfn(tf: Double, dl: Long, avgdl: Double): Double = tf * avgdl / dl
    def tfnC(tf: Column, dl: Column, avgdl: Column): Column = tf * avgdl / dl
  }
  case object L2 extends TFNorm {
    val name = "L2"
    def tfn(tf: Double, dl: Long, avgdl: Double): Double = tf * log2(1.0d + avgdl / dl)
    def tfnC(tf: Column, dl: Column, avgdl: Column): Column =
      tf * log2c(lit(1.0d) + avgdl / dl)
  }

  /** log2(v + tfn) (`LogTFN.java:22-25`). */
  final case class LogTFN(norm: TFNorm, v: Double) extends Model {
    val name = s"LogTFN${norm.name}v$v"
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double =
      log2(v + norm.tfn(tf, docLen, avgdl))
    def expr(in: In): Column =
      log2c(lit(v) + norm.tfnC(in.tf, in.docLen, in.avgdl))
  }

  /** sqrt(tfn) (`SqrtTFN.java:19-22`). */
  final case class SqrtTFN(norm: TFNorm) extends Model {
    val name = s"SqrtTFN${norm.name}"
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double =
      math.sqrt(norm.tfn(tf, docLen, avgdl))
    def expr(in: In): Column = sqrt(norm.tfnC(in.tf, in.docLen, in.avgdl))
  }

  /** DFI gate wrapper: any model forced to 0 when tf ≤ e_ij
   * (`Delegate.java:17-26`). */
  final case class Delegate(inner: Model) extends Model {
    val name = s"DFI_${inner.name}"
    // gated score ≤ inner score and the gate opens widest at minDocLen, so
    // the inner bound stays valid iff the inner model's is
    override def ubSafe: Boolean = inner.ubSafe
    def score(tf: Double, docLen: Long, avgdl: Double, kf: Double,
              df: Double, cf: Double, n: Double, c: Double): Double = {
      val eij = (cf * docLen) / c
      if (tf <= eij) 0d else inner.score(tf, docLen, avgdl, kf, df, cf, n, c)
    }
    def expr(in: In): Column = {
      val eij = (in.cf * in.docLen) / in.c
      when(in.tf <= eij, lit(0d)).otherwise(inner.expr(in))
    }
  }

  /** All parameter-free / default-parameter models, for multi-model scoring
   * sweeps (reference sweep list `SearcherTool.java:294-302`). */
  val zoo: Seq[Model] = Seq(
    BM25, BM25c(0.9, 0.4), DirichletLM(), LMDIR(), LMABS(), LMJM(),
    PL2c(), LGDc(), DPH, DPHp, DLH13, DFRee, DFIC, DFIZ, TFIDF, RawTF, MetaTerm,
    LogTFN(L2, 1d), SqrtTFN(L2), MATF())

  /**
   * Model-name parser, semantics of `ParamTool.string2model`
   * (`/root/reference/src/main/java/edu/anadolu/cmdline/ParamTool.java:93-111`):
   * `BM25k1.6b0.4` → BM25c(1.6, 0.4); `LGDc2.0` / `PL2c10.0` /
   * `DirichletLMc500.0` → parameterized instances.
   */
  def parse(model: String): Model = {
    val kb = "BM25k([0-9.]+)b([0-9.]+)".r
    val cM = "(LGD|PL2|DirichletLM)c([0-9.]+)".r
    model match {
      case kb(k, b)              => BM25c(k.toDouble, b.toDouble)
      case cM("LGD", c)          => LGDc(c.toDouble)
      case cM("PL2", c)          => PL2c(c.toDouble)
      case cM("DirichletLM", c)  => DirichletLM(c.toDouble)
      case "BM25"                => BM25
      case "DPH"                 => DPH
      case "DPHp"                => DPHp
      case "MATF"                => MATF()
      case "DLH13"               => DLH13
      case "DFRee"               => DFRee
      case "DFIC"                => DFIC
      case "DFIZ"                => DFIZ
      case "TFIDF"               => TFIDF
      case "RawTF"               => RawTF
      case "MetaTerm"            => MetaTerm
      case "MVD"                 => MVD
      case other =>
        // stock-Lucene grid names (Models.java:105-127), e.g. DFR_InL2
        StockLucene.parse(other).getOrElse(
          throw new IllegalArgumentException(s"unexpected model: $other"))
    }
  }
}
