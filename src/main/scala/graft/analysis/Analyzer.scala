package graft.analysis

import com.ibm.icu.lang.UCharacter
import com.ibm.icu.text.{BreakIterator, Normalizer2, RuleBasedBreakIterator}
import com.ibm.icu.util.ULocale

import scala.collection.mutable.ArrayBuffer

/** The reference's `text_en` analysis chain re-expressed on icu4j, pinned to
  * /root/reference/solr/config/schema.xml:152-165:
  *
  *   ICUTokenizer -> ICUFoldingFilter -> EnglishPossessiveFilter ->
  *   EnglishMinimalStemFilter -> TrimFilter
  *
  * No stopwords and no synonyms — the schema's chains reference none
  * (schema.xml:106-165), so parity requires their absence.
  *
  * Tokenization is UAX#29 word segmentation via `BreakIterator`
  * (ICUTokenizerFactory semantics: keep segments whose rule status is a word /
  * number / kana / ideo class, drop punctuation and whitespace). Folding is
  * NFKC + case folding + diacritic (combining mark) removal — the documented
  * behavior of ICUFoldingFilter (schema.xml:110 comment). The exact fold
  * table is pinned HERE (this object is the engine-wide source of truth;
  * the exact oracle and the index builder share it, so rank-identity is
  * end-to-end consistent).
  */
object Analyzer extends Serializable {

  @transient private lazy val nfkcCf: Normalizer2 = Normalizer2.getNFKCCasefoldInstance
  @transient private lazy val nfd: Normalizer2 = Normalizer2.getNFDInstance

  /** UTR#30 diacritic folds for NON-decomposable letters, generated from the
    * UCD by [[GenDiacriticFolds]] (committed resource; cp hex -> base char).
    */
  @transient private lazy val diacriticFolds: Map[Int, Char] = {
    val in = getClass.getResourceAsStream("/graft/analysis/diacritic_folds.tsv")
    require(in != null, "diacritic_folds.tsv missing from resources")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { line =>
        val parts = line.split("\t")
        Integer.parseInt(parts(0), 16) -> parts(1).charAt(0)
      }.toMap
    finally in.close()
  }

  // BreakIterator is mutable/stateful — one per thread.
  @transient private lazy val wordBreak: ThreadLocal[BreakIterator] =
    ThreadLocal.withInitial(() => BreakIterator.getWordInstance(ULocale.ROOT))

  /** UAX#29 word segments with a non-NONE rule status (letters, numbers,
    * kana, ideographs). Mirrors ICUTokenizer's DefaultICUTokenizerConfig.
    * All-ASCII regions take the exact fast path ([[segment]]).
    */
  def tokenize(text: String): Array[String] = segment(text, analyzed = false)

  /** The ICU-only tokenizer: the reference the ASCII fast path must match
    * token for token, and the path every non-ASCII region takes.
    */
  private[graft] def tokenizeIcu(text: String): Array[String] = {
    if (text == null || text.isEmpty) return Array.empty
    val bi = wordBreak.get().asInstanceOf[RuleBasedBreakIterator]
    bi.setText(text)
    val out = new ArrayBuffer[String]()
    var start = bi.first()
    var end = bi.next()
    while (end != BreakIterator.DONE) {
      if (bi.getRuleStatus() != 0) { // 0 == UBRK_WORD_NONE
        out += text.substring(start, end)
      }
      start = end
      end = bi.next()
    }
    out.toArray
  }

  // ---- ASCII fast path ----
  //
  // UAX#29 word-break classes of the ASCII chars (WordBreakProperty.txt).
  // `:` is MidLetter (ICU's root rules join `a:b` into one word), a class
  // that locales tailor; rather than pin that, a region holding `:` takes
  // the ICU path, like any region holding a non-ASCII char.
  private final val WbOther = 0
  private final val WbLetter = 1    // ALetter: A-Z a-z
  private final val WbDigit = 2     // Numeric: 0-9
  private final val WbExtend = 3    // ExtendNumLet: _
  private final val WbMidNumLet = 4 // MidNumLet `.`, Single_Quote `'`
  private final val WbMidNum = 5    // MidNum `,` `;`
  private final val WbSpace = 6     // ASCII whitespace: always a word break
  private final val WbIcu = 7       // `:` (and, via wbClass, any non-ASCII char)

  private val asciiClass: Array[Byte] = {
    val t = new Array[Byte](128)
    var c = 0
    while (c < 128) {
      t(c) = (c.toChar match {
        case x if (x >= 'a' && x <= 'z') || (x >= 'A' && x <= 'Z') => WbLetter
        case x if x >= '0' && x <= '9' => WbDigit
        case '_' => WbExtend
        case '.' | '\'' => WbMidNumLet
        case ',' | ';' => WbMidNum
        case ' ' | '\t' | '\n' | '\r' | '\u000b' | '\f' => WbSpace
        case ':' => WbIcu
        case _ => WbOther
      }).toByte
      c += 1
    }
    t
  }

  @inline private def wbClass(c: Char): Int = if (c >= 0x80) WbIcu else asciiClass(c)

  @inline private def isWordClass(k: Int): Boolean = k >= WbLetter && k <= WbExtend

  /** Segment `text` and, when `analyzed`, run the text_en chain on each
    * token; the result equals the ICU chain's exactly.
    *
    * The text splits into regions at ASCII whitespace, which UAX#29 always
    * breaks on both sides of: no rule joins a whitespace char to a word
    * char, and an Extend/Format char after whitespace attaches to the
    * whitespace, never to the next word. So each region segments on its own.
    * An all-ASCII region (without `:`) runs a UAX#29 state machine over the
    * ASCII classes: a word is a maximal run of letters, digits and `_`
    * (WB5, WB8-10, WB13a/b) that also spans one MidNumLet between two
    * letters (WB6/7) or one MidNum/MidNumLet between two digits (WB11/12).
    * Every such word has a non-NONE rule status except a lone `_`. The
    * token is lowercased (NFKC_Casefold on ASCII), possessive-stripped and
    * stemmed in place on a char copy of the text, so it costs one String.
    * A region holding any other char drops the tokens it has emitted and
    * goes through ICU.
    */
  private def segment(text: String, analyzed: Boolean): Array[String] = {
    if (text == null || text.isEmpty) return Array.empty
    // one bulk copy; analyzed tokens are then lowercased and stemmed in place
    val cs = text.toCharArray
    val n = cs.length
    val out = new ArrayBuffer[String](math.max(16, n >> 3))
    var mark = 0 // out.length at the start of the current region
    var regionStart = 0
    var i = 0
    while (i < n) {
      val k = wbClass(cs(i))
      if (k == WbSpace) {
        i += 1
        regionStart = i
        mark = out.length
      } else if (k == WbIcu) {
        out.dropRightInPlace(out.length - mark)
        var end = i + 1
        while (end < n && wbClass(cs(end)) != WbSpace) end += 1
        val region = text.substring(regionStart, end)
        out ++= (if (analyzed) analyzeIcu(region) else tokenizeIcu(region))
        i = end
      } else if (!isWordClass(k)) {
        i += 1
      } else {
        val start = i
        var prev = k
        i += 1
        var inWord = true
        while (inWord && i < n) {
          val k2 = wbClass(cs(i))
          if (isWordClass(k2)) { prev = k2; i += 1 }
          else if ((k2 == WbMidNumLet || k2 == WbMidNum) && i + 1 < n) {
            val k3 = wbClass(cs(i + 1))
            if ((prev == WbLetter && k2 == WbMidNumLet && k3 == WbLetter) ||
                (prev == WbDigit && k3 == WbDigit)) { prev = k3; i += 2 }
            else inWord = false
          } else inWord = false
        }
        if (i - start > 1 || k != WbExtend) {
          if (!analyzed) out += text.substring(start, i)
          else {
            var j = start
            while (j < i) {
              val c = cs(j)
              if (c >= 'A' && c <= 'Z') cs(j) = (c + 32).toChar
              j += 1
            }
            var end = i
            if (end - start >= 2 && cs(end - 1) == 's' && cs(end - 2) == '\'') end -= 2
            end = stemAscii(cs, start, end)
            out += new String(cs, start, end - start)
          }
        }
      }
    }
    out.toArray
  }

  /** [[minimalStem]] in place on `cs(start until end)`; returns the new end. */
  private def stemAscii(cs: Array[Char], start: Int, end: Int): Int = {
    if (end - start < 3 || cs(end - 1) != 's') return end
    cs(end - 2) match {
      case 'u' | 's' => end
      case 'e' =>
        val c3 = cs(end - 3)
        if (end - start > 3 && c3 == 'i' && cs(end - 4) != 'a' && cs(end - 4) != 'e') {
          cs(end - 3) = 'y'
          end - 2
        } else if (c3 == 'i' || c3 == 'a' || c3 == 'o' || c3 == 'e') end
        else end - 1
      case _ => end - 1
    }
  }

  /** ICU folding: NFKC + case fold (NFKC_Casefold), then canonical decompose
    * and strip combining marks (diacritic removal), re-normalized.
    */
  def fold(token: String): String = {
    // Fast path: for pure-ASCII input, NFKC_Casefold is exactly A-Z -> a-z
    // (ASCII is NFKC-invariant; simple case folding == lowercasing) and there
    // are no combining marks to strip — skip ICU entirely. This is the
    // dominant case for source-code tokens and removes the allocation-heavy
    // normalize call from the tokenize hot path.
    var asciiIn = true
    var hasUpper = false
    var k = 0
    while (asciiIn && k < token.length) {
      val c = token.charAt(k)
      if (c >= 0x80) asciiIn = false
      else if (c >= 'A' && c <= 'Z') hasUpper = true
      k += 1
    }
    if (asciiIn) {
      if (!hasUpper) return token
      val chars = new Array[Char](token.length)
      var m = 0
      while (m < token.length) {
        val c = token.charAt(m)
        chars(m) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        m += 1
      }
      return new String(chars)
    }
    val cf = nfkcCf.normalize(token)
    // Pure ASCII after casefold needs no decomposition scan.
    var ascii = true
    var i = 0
    while (ascii && i < cf.length) { if (cf.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) return cf
    val dec = nfd.normalize(cf)
    val sb = new java.lang.StringBuilder(dec.length)
    var j = 0
    while (j < dec.length) {
      val cp = dec.codePointAt(j)
      val cat = UCharacter.getType(cp)
      if (cat != Character.NON_SPACING_MARK.toInt &&
          cat != Character.COMBINING_SPACING_MARK.toInt &&
          cat != Character.ENCLOSING_MARK.toInt) {
        // UTR#30 diacritic folding also covers NON-decomposable modified
        // Latin letters (stroke, bar, hook, tail, ...). icu4j ships no
        // utr30.nrm (that binary lives in lucene-analysis-icu, absent
        // offline), so the table is GENERATED from the UCD itself into a
        // committed resource — see [[GenDiacriticFolds]] (208 entries).
        // Native Digit Folding (also UTR#30) is the closed rule below.
        val folded = diacriticFolds.get(cp)
        if (folded.isDefined) sb.append(folded.get)
        else if (cat == Character.DECIMAL_DIGIT_NUMBER.toInt && cp > '9')
          sb.append(('0' + UCharacter.digit(cp, 10)).toChar)
        else sb.appendCodePoint(cp)
      }
      j += Character.charCount(cp)
    }
    nfkcCf.normalize(sb)
  }

  /** Lucene EnglishPossessiveFilter: strip trailing `'s` with any of the three
    * apostrophe forms (', U+2019, U+FF07). Runs post-fold, so `s` is already
    * lowercase.
    */
  def stripPossessive(token: String): String = {
    val n = token.length
    if (n >= 2 && (token.charAt(n - 1) == 's' || token.charAt(n - 1) == 'S')) {
      val c = token.charAt(n - 2)
      if (c == '\'' || c == '’' || c == '＇') return token.substring(0, n - 2)
    }
    token
  }

  /** Lucene EnglishMinimalStemFilter (Harman S-stemmer, public algorithm):
    * strip a trailing plural `s` with guards; `-ies` -> `-y` when preceded by
    * a consonant.
    */
  def minimalStem(token: String): String = {
    val len = token.length
    if (len < 3 || token.charAt(len - 1) != 's') return token
    token.charAt(len - 2) match {
      case 'u' | 's' => token
      case 'e' =>
        if (len > 3 && token.charAt(len - 3) == 'i' &&
            token.charAt(len - 4) != 'a' && token.charAt(len - 4) != 'e') {
          token.substring(0, len - 3) + "y"
        } else if (token.charAt(len - 3) == 'i' || token.charAt(len - 3) == 'a' ||
                   token.charAt(len - 3) == 'o' || token.charAt(len - 3) == 'e') {
          token
        } else token.substring(0, len - 1)
      case _ => token.substring(0, len - 1)
    }
  }

  /** Full text_en chain; empty tokens (possible after folding away a token
    * consisting only of marks/ignorables) are dropped. All-ASCII regions
    * take the exact fast path ([[segment]]).
    */
  def analyze(text: String): Array[String] = segment(text, analyzed = true)

  /** The ICU-only text_en chain: the reference [[analyze]] must match. */
  private[graft] def analyzeIcu(text: String): Array[String] =
    tokenizeIcu(text).map(t => minimalStem(stripPossessive(fold(t))).trim).filter(_.nonEmpty)

  /** KeywordTokenizer + ICUFolding + Trim (the schema's `alphaSort` chain,
    * schema.xml:124-131): whole value as one token.
    */
  def analyzeKeyword(text: String): Array[String] = {
    if (text == null) return Array.empty
    val t = fold(text).trim
    if (t.isEmpty) Array.empty else Array(t)
  }

  /** PathHierarchyTokenizer (schema.xml:168-173): `a/b/c` -> a, a/b, a/b/c. */
  def tokenizePathHierarchy(path: String, delimiter: Char = '/'): Array[String] = {
    if (path == null || path.isEmpty) return Array.empty
    val out = new ArrayBuffer[String]()
    var i = path.indexOf(delimiter)
    while (i >= 0) {
      if (i > 0) out += path.substring(0, i)
      i = path.indexOf(delimiter, i + 1)
    }
    out += path
    out.toArray
  }

  /** `alphaNumericSort` chain (schema.xml:133-149): keyword, lowercase, trim,
    * left-pad digit runs to 6, keep only [a-z0-9].
    */
  def alphaNumericSortKey(value: String): String = {
    if (value == null) return null
    var s = value.toLowerCase.trim
    s = s.replaceAll("(\\d+)", "00000$1")
    s = s.replaceAll("0*([0-9]{6,})", "$1")
    s.replaceAll("[^a-z0-9]", "")
  }

  /** Per-field analysis used at both index and query time. `repo` mirrors the
    * reference's raw-string `id` qf field (schema.xml:204: class "string").
    */
  def analyzeField(field: String, text: String): Array[String] = field match {
    case "repo" => if (text == null || text.isEmpty) Array.empty else Array(text)
    case _      => analyze(text)
  }
}
