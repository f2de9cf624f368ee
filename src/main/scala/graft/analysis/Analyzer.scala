package graft.analysis

import java.util.Locale

/**
 * Deterministic, pure-Scala text analysis (SURVEY.md §2.3).
 *
 * The analyzer is *the contract* of the engine: identical tokens ⇒ identical
 * tf/df/docLen ⇒ identical scores. The reference builds Lucene
 * `CustomAnalyzer` chains per tag (`/root/reference/src/main/java/edu/anadolu/
 * analysis/Analyzers.java:85-245`); query and index side share the same
 * analyzer (`Analyzers.java:58-74`).
 *
 * Chains re-implemented from public UAX#29 word-break semantics:
 *
 *  - [[Tag.NoStem]]  — standard word-break + lowercase
 *                      (`Analyzers.java:89-93`)
 *  - [[Tag.NoStemPossessive]] — NoStem + english-possessive strip
 *                      (the shared non-stemming prefix of the stemmed
 *                      chains, `Analyzers.java:95-101`)
 *  - [[Tag.Snowball]] — + Porter2 from the published Snowball spec
 *                      (`Analyzers.java:103-109`)
 *  - [[Tag.KStem]]   — + the published Krovetz rules over a documented
 *                      subset lexicon (the reference's DEFAULT tag,
 *                      `Analyzers.java:95-101`; see [[KStem]] for the
 *                      subset-lexicon deviation)
 *
 * Word-break approximation of UAX#29 as implemented by Lucene's standard
 * tokenizer: tokens are maximal runs of Unicode letters/digits, where a
 * single mid-token character is retained when flanked by alphanumerics:
 * `'` / `’` / `.` between letters-or-digits (MidNumLet / Single_Quote),
 * `,` / `:` between digits (MidNum). Everything else breaks.
 */
object Analyzer {

  sealed trait Tag { def name: String }
  object Tag {
    case object NoStem extends Tag { val name = "NoStem" }
    case object NoStemPossessive extends Tag { val name = "NoStemPossessive" }
    /** Reference Snowball chain: standard tokenizer → lowercase →
     * englishpossessive → snowballporter(English)
     * (`Analyzers.java:103-109`); the stemmer is [[Porter2]]. */
    case object Snowball extends Tag { val name = "Snowball" }
    /** The reference's DEFAULT index chain: standard tokenizer → lowercase
     * → englishpossessive → kstem (`Analyzers.java:95-101`,
     * `cmdline/IndexerTool.java:42-43`); the stemmer is [[KStem]] — the
     * published Krovetz rules over a documented subset lexicon. */
    case object KStem extends Tag { val name = "KStem" }
    /** Reference Latin chain (`Analyzers.java:126-133`): keep only
     * Latin-script tokens → lowercase → kstem (no possessive filter in the
     * reference chain). Script determined from the token's first letter
     * (our word-break never joins scripts across these ranges). */
    case object Latin extends Tag { val name = "Latin" }
    /** Reference ASCII chain (`Analyzers.java:135-142`): keep only
     * Basic-Latin (all code points < 0x80) tokens → lowercase → kstem. */
    case object ASCII extends Tag { val name = "ASCII" }
    /** Reference UAX chain (`Analyzers.java:192-212`): uax29urlemail
     * tokenizer → lowercase — URLs and e-mail addresses survive as single
     * tokens; everything else word-breaks as [[NoStem]]. Re-implemented
     * with explicit URL/email span detection (documented approximation of
     * the UAX#29 URL/EMAIL productions). */
    case object UAX extends Tag { val name = "UAX" }
    /** Reference ICU chain (`Analyzers.java:119-124`): icu tokenizer →
     * lowercase → kstem (no possessive filter). Documented deviation: the
     * ICU tokenizer's dictionary-based segmentation for Thai/Lao/CJK is
     * not reproduced — those scripts word-break as maximal runs, like the
     * standard tokenizer; for space-delimited scripts the chains agree. */
    case object ICU extends Tag { val name = "ICU" }
    /** Reference NoStemTurkish chain (`Analyzers.java:176-181`): standard
     * tokenizer → apostrophe → turkishlowercase. The rule-based half of the
     * Turkish family — the zemberek / Turkish-Hunspell dictionary stemmers
     * stay out of scope (documented in SURVEY §8). */
    case object NoStemTurkish extends Tag { val name = "NoStemTurkish" }
    /** Reference F5 chain (`Analyzers.java:169-174`): NoStemTurkish +
     * truncate(prefixLength = 5) — fixed-prefix pseudo-stemming. */
    case object F5 extends Tag { val name = "F5" }
    val all: Seq[Tag] = Seq(NoStem, NoStemPossessive, Snowball, KStem, Latin, ASCII, UAX, ICU,
      NoStemTurkish, F5)
    def of(name: String): Tag = all.find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(s"unknown analyzer tag: $name"))
  }

  private def isWordChar(cp: Int): Boolean =
    Character.isLetterOrDigit(cp)

  private def isMidLetter(cp: Int): Boolean =
    cp == '\'' || cp == 0x2019 /* ’ */ || cp == '.'

  private def isMidNum(cp: Int): Boolean =
    cp == ',' || cp == ':' || cp == '.'

  /** Core word-break: invoke `f(start, end)` (char offsets, end exclusive)
   * for every token range. Allocation-free — the single implementation
   * behind both the allocating [[tokenize]] and the zero-alloc index-build
   * counter ([[graft.index.TokenCounter]]), so their token streams are
   * identical by construction. */
  def foreachTokenRange(text: String)(f: (Int, Int) => Unit): Unit = {
    if (text == null || text.isEmpty) return
    val n = text.length
    var i = 0
    var start = -1
    while (i < n) {
      val cp = text.codePointAt(i)
      val w = Character.charCount(cp)
      if (isWordChar(cp)) {
        if (start < 0) start = i
        i += w
      } else if (start >= 0 && i + w < n) {
        // candidate mid-token char: look at the next code point
        val next = text.codePointAt(i + w)
        val prevDigit = Character.isDigit(text.codePointBefore(i))
        val keep =
          if (Character.isLetterOrDigit(next)) {
            if (prevDigit && Character.isDigit(next)) isMidNum(cp) || isMidLetter(cp)
            else isMidLetter(cp)
          } else false
        if (!keep) { f(start, i); start = -1 }
        i += w
      } else {
        if (start >= 0) { f(start, i); start = -1 }
        i += w
      }
    }
    if (start >= 0) f(start, n)
  }

  /** Per-codepoint lowercase of a token range (Lucene's LowerCaseFilter
   * semantics — codepoint-wise, not locale-sensitive full-string casing). */
  def lowercased(text: String, start: Int, end: Int): String = {
    val sb = new java.lang.StringBuilder(end - start)
    var i = start
    while (i < end) {
      val cp = text.codePointAt(i)
      sb.appendCodePoint(Character.toLowerCase(cp))
      i += Character.charCount(cp)
    }
    sb.toString
  }

  /** Tokenize without any filtering: maximal alphanumeric runs with retained
   * mid-token punctuation. Deterministic, null-safe (null → empty). */
  def tokenize(text: String): Seq[String] = {
    val out = Vector.newBuilder[String]
    foreachTokenRange(text)((s, e) => out += text.substring(s, e))
    out.result()
  }

  /** Zero-allocation analyzed-token count (== analyze(text, NoStem).size). */
  def countTokens(text: String): Int = {
    var c = 0
    foreachTokenRange(text)((_, _) => c += 1)
    c
  }

  /** Analyzed length of a document under `tag`: the zero-alloc
   * [[countTokens]] for NoStem, the analyzed token count otherwise. */
  def docLength(text: String, tag: Tag): Long =
    if (tag == Tag.NoStem) countTokens(text).toLong else analyze(text, tag).size.toLong

  /** Strip English possessive suffix `'s` / `’s` (reference chain component
   * `englishpossessive`, `Analyzers.java:95-101`). */
  def stripPossessive(token: String): String = {
    val n = token.length
    if (n >= 2 && (token.charAt(n - 2) == '\'' || token.charAt(n - 2) == 0x2019)
        && (token.charAt(n - 1) == 's' || token.charAt(n - 1) == 'S'))
      token.substring(0, n - 2)
    else token
  }

  /** Lucene ApostropheFilter semantics (`apostrophe` chain component of
   * the Turkish tags): drop the FIRST apostrophe (' or ’) and everything
   * after it — "türkiye'nin" → "türkiye". */
  def stripApostropheSuffix(token: String): String = {
    var i = 0
    while (i < token.length) {
      val c = token.charAt(i)
      if (c == '\'' || c == 0x2019) return token.substring(0, i)
      i += 1
    }
    token
  }

  /** Lucene TurkishLowerCaseFilter semantics: İ (U+0130) → i,
   * I → ı (U+0131) UNLESS followed by COMBINING DOT ABOVE (U+0307), in
   * which case I+◌̇ → i (the dot is consumed); all other code points take
   * the standard per-codepoint lowercase. */
  def turkishLowercase(token: String): String = {
    val sb = new java.lang.StringBuilder(token.length)
    var i = 0
    while (i < token.length) {
      val cp = token.codePointAt(i)
      val w = Character.charCount(cp)
      if (cp == 0x0130) { sb.append('i'); i += w }
      else if (cp == 'I') {
        if (i + w < token.length && token.codePointAt(i + w) == 0x0307) {
          sb.append('i'); i += w + 1
        } else { sb.append('ı'); i += w }
      } else { sb.appendCodePoint(Character.toLowerCase(cp)); i += w }
    }
    sb.toString
  }

  /** Full analysis chain for a tag: tokenize → lowercase → (possessive). */
  def analyze(text: String, tag: Tag = Tag.NoStem): Seq[String] = {
    if (tag == Tag.UAX) return uaxTokenize(text) // its own tokenizer — skip the standard pass
    if (tag == Tag.NoStemTurkish || tag == Tag.F5) {
      // Turkish chain: apostrophe strip BEFORE its own casing (the
      // standard lowercase would fold I → i and lose the dotless ı)
      val out = Vector.newBuilder[String]
      foreachTokenRange(text) { (s, e) =>
        val t = turkishLowercase(stripApostropheSuffix(text.substring(s, e)))
        if (t.nonEmpty)
          out += (if (tag == Tag.F5 && t.length > 5) t.substring(0, 5) else t)
      }
      return out.result()
    }
    val base = Vector.newBuilder[String]
    foreachTokenRange(text)((s, e) => base += lowercased(text, s, e))
    tag match {
      case Tag.NoStem           => base.result()
      case Tag.NoStemPossessive => base.result().map(stripPossessive).filter(_.nonEmpty)
      case Tag.Snowball =>
        base.result().map(t => Porter2.stem(stripPossessive(t))).filter(_.nonEmpty)
      case Tag.KStem =>
        base.result().map(t => KStem.stem(stripPossessive(t))).filter(_.nonEmpty)
      case Tag.Latin =>
        base.result().filter(isLatinToken).map(KStem.stem).filter(_.nonEmpty)
      case Tag.ASCII =>
        base.result().filter(_.forall(_ < 0x80)).map(KStem.stem).filter(_.nonEmpty)
      case Tag.ICU =>
        base.result().map(KStem.stem).filter(_.nonEmpty)
      case Tag.UAX | Tag.NoStemTurkish | Tag.F5 =>
        throw new IllegalStateException("unreachable: handled above")
    }
  }

  /** First-letter script is Latin (reference `ScriptAsTypeTokenFilter` +
   * whitelist "Latin", `Analyzers.java:126-133`). */
  private def isLatinToken(token: String): Boolean =
    token.nonEmpty &&
      Character.UnicodeScript.of(token.codePointAt(0)) == Character.UnicodeScript.LATIN

  /** URL / e-mail span patterns — a documented approximation of Lucene's
   * UAX29URLEmailTokenizer URL/EMAIL productions: scheme-led URLs and
   * RFC-ish e-mail addresses survive as single (lowercased) tokens, with
   * trailing sentence punctuation shed. */
  private val UrlOrEmail = java.util.regex.Pattern.compile(
    """(?:(?:https?|ftp)://[^\s<>"]+|[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,})""")

  /** UAX chain: URL/email spans verbatim (lowercased), standard word-break
   * + lowercase between them. */
  def uaxTokenize(text: String): Seq[String] = {
    if (text == null || text.isEmpty) return Vector.empty
    val out = Vector.newBuilder[String]
    val m = UrlOrEmail.matcher(text)
    var last = 0
    def plain(seg: String): Unit =
      foreachTokenRange(seg)((s, e) => out += lowercased(seg, s, e))
    while (m.find()) {
      plain(text.substring(last, m.start()))
      // shed trailing sentence punctuation the regex over-captures
      var tok = m.group()
      while (tok.nonEmpty && ".,;:!?)".indexOf(tok.last.toInt) >= 0) tok = tok.init
      if (tok.nonEmpty) out += tok.toLowerCase(Locale.ROOT)
      last = m.start() + m.group().length
    }
    plain(text.substring(last))
    out.result()
  }

  /** The reference's script-partitioned fields (T4, `Indexer.java:113-119`):
   * contents are re-indexed once per script with a script-filtering
   * analyzer (`Analyzers.scripts:29-40` + an "ascii" field). Here a token
   * maps to ONE script label from its first letter codepoint (our
   * word-break never joins scripts mid-token for these ranges): the
   * reference's ten script names, plus "ascii" (Basic-Latin) and "other". */
  def scriptOf(token: String): String = {
    if (token == null || token.isEmpty) return "other"
    import Character.UnicodeScript
    val sc = UnicodeScript.of(token.codePointAt(0))
    sc match {
      case UnicodeScript.HAN | UnicodeScript.HIRAGANA | UnicodeScript.KATAKANA => "Jpan"
      case UnicodeScript.CYRILLIC   => "Cyrillic"
      case UnicodeScript.GREEK      => "Greek"
      case UnicodeScript.ARABIC     => "Arabic"
      case UnicodeScript.HANGUL     => "Hangul"
      case UnicodeScript.THAI       => "Thai"
      case UnicodeScript.ARMENIAN   => "Armenian"
      case UnicodeScript.DEVANAGARI => "Devanagari"
      case UnicodeScript.HEBREW     => "Hebrew"
      case UnicodeScript.GEORGIAN   => "Georgian"
      case UnicodeScript.LATIN | UnicodeScript.COMMON
        if token.forall(_ < 0x80)   => "ascii"
      case _ => "other"
    }
  }

  /**
   * Lucene query-syntax escape, ported verbatim from the reference
   * (`/root/reference/src/main/java/org/clueweb09/tracks/MQ09.java:24-37`):
   * syntax characters are replaced by a single space, then whitespace is
   * collapsed. Our engine has no query syntax, but topic files round-trip
   * through this, so it is part of query semantics.
   */
  def escapeQuerySyntax(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' || c == '+' || c == '-' || c == '!' || c == '(' || c == ')' ||
          c == ':' || c == '^' || c == '[' || c == ']' || c == '"' || c == '{' ||
          c == '}' || c == '~' || c == '*' || c == '?' || c == '|' || c == '&' || c == '/')
        sb.append(' ')
      else sb.append(c)
      i += 1
    }
    sb.toString.trim.replaceAll("\\s+", " ")
  }

  /** Analyzed query terms with multiplicity preserved — duplicate query terms
   * contribute their score once per occurrence (OR-sum of SHOULD clauses,
   * `ModelBase.java:209-225`). */
  def analyzeQuery(query: String, tag: Tag = Tag.NoStem): Seq[String] =
    analyze(escapeQuerySyntax(query), tag)
}
