package graft

import graft.analysis.Analyzer
import graft.corpus.CodeCorpus
import org.scalatest.funsuite.AnyFunSuite

/** The text_en chain, and the differential gate on its ASCII fast path:
  * `tokenize`/`analyze` must equal the ICU-only reference
  * (`tokenizeIcu`/`analyzeIcu`) token for token. `ExactScorer` and the
  * perfbench oracle share `Analyzer`, so they cannot catch a tokenizer
  * divergence; this spec is the gate.
  */
class AnalyzerSpec extends AnyFunSuite {
  test("UAX#29 tokenization keeps identifiers whole, drops punctuation") {
    // underscore is ExtendNumLet: foo_bar is ONE token under UAX#29
    assert(Analyzer.tokenize("def foo_bar(x): return x+1").toSeq ==
      Seq("def", "foo_bar", "x", "return", "x", "1"))
  }
  test("numbers and mixed alphanumerics tokenize") {
    assert(Analyzer.tokenize("v2.0 has 3 bugs").toSeq == Seq("v2.0", "has", "3", "bugs"))
  }
  test("folding lowercases and strips diacritics") {
    assert(Analyzer.fold("Café") == "cafe")
    assert(Analyzer.fold("ÉLÈVE") == "eleve")
    assert(Analyzer.fold("Straße") == "strasse") // NFKC_CF case fold
  }
  test("folding normalizes compatibility forms") {
    assert(Analyzer.fold("ﬁle") == "file") // U+FB01 ligature
    assert(Analyzer.fold("Ｆｕｌｌ") == "full") // fullwidth
  }
  test("possessive filter strips 's variants") {
    assert(Analyzer.stripPossessive("spark's") == "spark")
    assert(Analyzer.stripPossessive("spark’s") == "spark")
    assert(Analyzer.stripPossessive("class") == "class")
    assert(Analyzer.stripPossessive("'s") == "")
  }
  test("minimal stem: Harman S-stemmer cases (Lucene EnglishMinimalStemmer)") {
    assert(Analyzer.minimalStem("dogs") == "dog")
    assert(Analyzer.minimalStem("queries") == "query")
    assert(Analyzer.minimalStem("bus") == "bus") // -us guard
    assert(Analyzer.minimalStem("class") == "class") // -ss guard
    assert(Analyzer.minimalStem("dies") == "dy") // len>3, -ies with consonant before i
  }
  test("minimal stem exact Lucene table") {
    // hand-checked against the published EnglishMinimalStemmer algorithm
    assert(Analyzer.minimalStem("ties") == "ty")
    assert(Analyzer.minimalStem("cries") == "cry")
    assert(Analyzer.minimalStem("aes") == "aes") // len 3, s[len-3]=='a' -> 'a' matches vowel guard
    assert(Analyzer.minimalStem("goes") == "goes") // o guard
    assert(Analyzer.minimalStem("trees") == "trees") // e guard
    assert(Analyzer.minimalStem("types") == "type") // 'p' consonant before e -> strip only s
    assert(Analyzer.minimalStem("is") == "is") // too short
    assert(Analyzer.minimalStem("as") == "as")
  }
  test("full chain") {
    assert(Analyzer.analyze("The Employee's Caféś tables").toSeq ==
      Seq("the", "employee", "cafe", "table"))
  }
  test("empty and null safe") {
    assert(Analyzer.analyze("").isEmpty)
    assert(Analyzer.analyze(null).isEmpty)
    assert(Analyzer.analyze("!!! ... ---").isEmpty)
  }
  test("path hierarchy tokenizer") {
    assert(Analyzer.tokenizePathHierarchy("a/b/c").toSeq == Seq("a", "a/b", "a/b/c"))
    assert(Analyzer.tokenizePathHierarchy("single").toSeq == Seq("single"))
  }
  test("alphaNumericSort key: lowercase, 6-pad numbers, strip non-alnum") {
    assert(Analyzer.alphaNumericSortKey("Box 12, Folder 3") == "box000012folder000003")
    assert(Analyzer.alphaNumericSortKey("ABC-9876543") == "abc9876543")
    assert(Analyzer.alphaNumericSortKey("x 000042 y") == "x000042y")
  }
  test("stroked-Latin fold classes (UTR#30 diacritic folding, generated table)") {
    assert(Analyzer.fold("S\u00f8ren") == "soren")       // o-slash
    assert(Analyzer.fold("\u0110or\u0111e") == "dorde") // d-stroke both cases
    assert(Analyzer.fold("ver\u00f0") == "verd")         // eth
    assert(Analyzer.fold("\u0127ajja") == "hajja")       // h-stroke
    assert(Analyzer.fold("\u0141\u00f3d\u017a") == "lodz") // l-stroke + acute
  }
  test("UTR#30 torture: hooks, bars, tails, IPA letters (generated table)") {
    assert(Analyzer.fold("\u0253a\u0180a") == "baba")    // b-hook, b-stroke
    assert(Analyzer.fold("\u0257o\u018c") == "dod")      // d-hook, d-topbar
    assert(Analyzer.fold("\u0199a\u0198") == "kak")      // k-hook both cases
    assert(Analyzer.fold("\u0268\u019a\u0167") == "ilt") // i-stroke, l-bar, t-stroke
    assert(Analyzer.fold("\u01b3\u01b4") == "yy")        // y-hook both cases
    assert(Analyzer.fold("\u0256") == "d")               // d with (retroflex) tail
    assert(Analyzer.fold("\u2c66") == "t")               // Latin Ext-C t with diagonal stroke
    assert(Analyzer.fold("\ua741") == "k")               // Latin Ext-D k with stroke
  }
  test("UTR#30 native digit folding: non-ASCII decimal digits -> ASCII") {
    assert(Analyzer.fold("\u0663") == "3")          // Arabic-Indic three
    assert(Analyzer.fold("\u09ea") == "4")          // Bengali four
    assert(Analyzer.fold("\u0be7\u0be8") == "12")   // Tamil one two
    assert(Analyzer.fold("42") == "42")             // ASCII untouched
  }
  test("compatibility foldings via NFKC_CF: circled, superscript, roman numeral") {
    assert(Analyzer.fold("\u2460") == "1")    // circled one
    assert(Analyzer.fold("x\u00b2") == "x2")  // superscript two
    assert(Analyzer.fold("\u2163") == "iv")   // roman numeral four
  }
  test("keyword chain folds whole value") {
    assert(Analyzer.analyzeKeyword("  Les Misérables  ").toSeq == Seq("les miserables"))
  }
  test("CJK segments to per-ideograph tokens (ICU dictionary/char based)") {
    val toks = Analyzer.tokenize("日本語のテスト")
    assert(toks.nonEmpty)
  }
  test("field router: repo is raw, content analyzed") {
    assert(Analyzer.analyzeField("repo", "Repo-0001").toSeq == Seq("Repo-0001"))
    assert(Analyzer.analyzeField("content", "Dogs RUN").toSeq == Seq("dog", "run"))
  }

  // ---- ASCII fast path == ICU chain (differential) ----

  private def esc(s: String): String = s.flatMap {
    case c if c >= 0x20 && c < 0x7f && c != '\\' => c.toString
    case c => "\\u%04x".format(c.toInt)
  }

  /** First (input, path, ICU, chain) difference over `inputs`, if any. */
  private def firstDiff(inputs: Iterator[(String, String)]): Option[String] =
    inputs.map { case (label, text) =>
      val tok = Analyzer.tokenize(text).toSeq
      val tokIcu = Analyzer.tokenizeIcu(text).toSeq
      val an = Analyzer.analyze(text).toSeq
      val anIcu = Analyzer.analyzeIcu(text).toSeq
      if (tok != tokIcu) Some(s"$label tokenize \"${esc(text)}\": fast $tok != icu $tokIcu")
      else if (an != anIcu) Some(s"$label analyze \"${esc(text)}\": fast $an != icu $anIcu")
      else None
    }.collectFirst { case Some(d) => d }

  /** Atoms biased toward the ASCII word-break classes and the chars whose
    * classes sit next to them: letters with plural/possessive endings,
    * digits, ExtendNumLet, MidNumLet, MidNum, `:`, every ASCII whitespace,
    * other punctuation, and non-ASCII letters, marks, joiners, spaces,
    * apostrophes, CJK, Thai and a ligature.
    */
  private val atoms: Array[java.util.Random => String] = {
    val letters = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    def word(r: java.util.Random): String =
      Seq.fill(1 + r.nextInt(6))(letters.charAt(r.nextInt(letters.length))).mkString
    def pick(xs: String*): java.util.Random => String = r => xs(r.nextInt(xs.length))
    Array(
      word, word, word, word,
      r => word(r) + pick("s", "S", "ies", "IES", "es", "us", "ss", "'s", "'S")(r),
      r => (1 + r.nextInt(999)).toString, pick("0", "7", "42"),
      pick("_"), pick(".", "'"), pick(",", ";"), pick(":"),
      pick(" ", " ", "  ", "\t", "\r", "\n", "\r\n", "\u000b", "\f"),
      pick("(", ")", "-", "/", "\"", "#", "+", "=", "!", "?", "@", "*", "\\", "\u0000", "\u001f", "\u007f"),
      pick("\u00e9", "\u00c9", "\u0301", "\u200d", "\u00a0", "\u3000",
        "\u65e5\u672c", "\u8a9e", "\u0e20\u0e32\u0e29\u0e32", "\u2019", "\uff07", "\ufb01"))
  }

  private def randomText(r: java.util.Random): String = {
    val sb = new java.lang.StringBuilder
    val n = r.nextInt(24)
    var i = 0
    while (i < n) {
      // non-ASCII atoms are rarer than the ASCII classes, as in code
      val a = r.nextInt(atoms.length * 4)
      sb.append(atoms(if (a < atoms.length * 3) a % (atoms.length - 1) else atoms.length - 1)(r))
      i += 1
    }
    sb.toString
  }

  test("ASCII fast path equals the ICU chain on seeded random strings") {
    val seed = sys.props.get("graft.analyzer.seed").map(_.toLong).getOrElse(20261018L)
    val cases = 100000
    val diff = firstDiff(Iterator.range(0, cases).map { i =>
      val caseSeed = seed * 1000003L + i
      (s"seed $caseSeed (base $seed, case $i):", randomText(new java.util.Random(caseSeed)))
    })
    assert(diff.isEmpty, diff.getOrElse(""))
  }

  test("ASCII fast path equals the ICU chain on corpus content and paths") {
    val diff = firstDiff(Iterator.range(0, 3000).flatMap { i =>
      val d = CodeCorpus.genDoc(i * 7919L, 100)
      Iterator((s"doc ${i * 7919L} content:", d.content), (s"doc ${i * 7919L} path:", d.path))
    })
    assert(diff.isEmpty, diff.getOrElse(""))
  }

  test("fast path: word-break edges pinned") {
    // WB6/7 (MidNumLet between letters), WB11/12 (MidNum between digits),
    // WB13a/b (ExtendNumLet), and a lone `_` has no word status
    assert(Analyzer.tokenize("a.b a..b 1,000.5 x;y 1;2 a.1 _ __ _x x_ it's").toSeq ==
      Seq("a.b", "a", "b", "1,000.5", "x", "y", "1;2", "a", "1", "__", "_x", "x_", "it's"))
    assert(Analyzer.analyze("Queries it's CLASSES flies dogs's").toSeq ==
      Seq("query", "it", "classe", "fly", "dog"))
    // a region holding a non-ASCII char or `:` takes the ICU path whole
    assert(Analyzer.analyze("x.caf\u00e9s key:value").toSeq == Analyzer.analyzeIcu("x.caf\u00e9s key:value").toSeq)
  }
}
