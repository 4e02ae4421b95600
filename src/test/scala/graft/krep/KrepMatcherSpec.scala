package graft.krep

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The reference's own pattern-match corpus, ported assertion-for-assertion
  * (citations into /root/reference). Pure-Scala (no SparkSession) — pins the
  * matcher semantics the Catalyst expressions expose.
  */
class KrepMatcherSpec extends AnyFunSuite {

  private def count(text: String, pats: Seq[String],
      cs: Boolean = true, ww: Boolean = false, ov: Boolean = true,
      re: Boolean = false, max: Long = Long.MaxValue): Long =
    new KrepMatcher(KrepParams(pats, caseSensitive = cs, wholeWord = ww,
      overlapping = ov, regex = re, maxCount = max))
      .count(UTF8String.fromString(text))

  // --- basic literal (test/test_krep.c:317-377) ---
  val fox = "The quick brown fox jumps over the lazy dog"
  test("basic literal counts") {
    assert(count(fox, Seq("quick")) == 1)
    assert(count(fox, Seq("fox")) == 1)
    assert(count(fox, Seq("cat")) == 0)
    assert(count(fox, Seq("The")) == 1) // case-sensitive: only leading 'The'
    assert(count(fox, Seq("the")) == 1)
  }

  // --- edge cases (test/test_krep.c:379-481) ---
  test("17 a's, single-char pattern") {
    assert(count("a" * 17, Seq("a")) == 17)
  }
  test("empty pattern and empty haystack give 0") {
    assert(count("a" * 17, Seq("")) == 0)
    assert(count("", Seq("test")) == 0)
  }
  test("match at start and end") {
    assert(count("abcdef", Seq("abc")) == 1)
    assert(count("abcdef", Seq("def")) == 1)
  }
  test("overlapping 'aba' in 'abababa': 3 overlapping, 2 non-overlapping") {
    assert(count("abababa", Seq("aba"), ov = true) == 3)
    assert(count("abababa", Seq("aba"), ov = false) == 2)
  }
  test("'aa' in 'aaaaa': 4 overlapping, 2 non-overlapping") {
    assert(count("aaaaa", Seq("aa"), ov = true) == 4)
    assert(count("aaaaa", Seq("aa"), ov = false) == 2)
  }
  test("'aa' in 'aaaa' -o overlapping positions = 3 (test_krep.c:1220-1230)") {
    assert(count("aaaa", Seq("aa"), ov = true) == 3)
  }

  // --- case sensitivity (test/test_krep.c:483-527) ---
  test("case-insensitive fold is ASCII-only") {
    val t = "The Quick Brown Fox"
    assert(count(t, Seq("quick"), cs = true) == 0)
    assert(count(t, Seq("quick"), cs = false) == 1)
    assert(count(t, Seq("QUICK"), cs = false) == 1)
  }

  // --- whole word (test/test_krep.c:529-562, 1232-1243) ---
  test("whole-word 'cat': 6 plain vs 3 whole-word") {
    val t = "cat catalog category cat. catfish cat,"
    assert(count(t, Seq("cat")) == 6)
    assert(count(t, Seq("cat"), ww = true) == 3)
  }
  test("whole-word at string start/end") {
    assert(count("word anotherword word", Seq("word"), ww = true) == 2)
  }

  // --- max count (test/test_krep.c:887-953, 1411-1452) ---
  test("max-count ladder on 10 matches") {
    val t = Seq.fill(10)("match").mkString(" ")
    for (m <- Seq(0L, 1L, 3L, 5L, 10L, Long.MaxValue))
      assert(count(t, Seq("match"), max = m) == math.min(m, 10L))
  }

  // --- multi-pattern Aho-Corasick (test/test_multiple_patterns.c) ---
  test("classic ushers: {he,she,his,hers} = 3") {
    assert(count("ushers", Seq("he", "she", "his", "hers")) == 3)
  }
  test("case-insensitive multi both directions") {
    assert(count("UsHeRs", Seq("he", "she", "his", "hers"), cs = false) == 3)
    assert(count("ushers", Seq("HE", "SHE", "HIS", "HERS"), cs = false) == 3)
    assert(count("UsHeRs", Seq("he", "she", "his", "hers"), cs = true) == 0)
  }
  test("nested overlapping multi: {a,b,c,ab,bc,abc} over 'abc' = 6") {
    assert(count("abc", Seq("a", "b", "c", "ab", "bc", "abc")) == 6)
  }
  test("multi {foo,bar} over 'foo bar baz foo qux bar' = 4") {
    assert(count("foo bar baz foo qux bar", Seq("foo", "bar")) == 4)
  }
  test("multi max-count (test_krep.c:1009-1066)") {
    // 'apple' x4 + 'orange' x2 interleaved
    val t = "apple banana apple orange apple grape orange apple"
    assert(count(t, Seq("apple", "orange")) == 6)
    assert(count(t, Seq("apple", "orange"), max = 3) == 3)
    assert(count(t, Seq("apple", "orange"), max = 5) == 5)
    assert(count(t, Seq("apple", "orange"), max = 6) == 6)
  }
  test("multi equals sum of singles (test_multiple_patterns.c:345-474)") {
    val t = ("the quick brown fox jumps over the lazy dog " * 50) +
      "pattern1 midway pattern2 " + ("lorem ipsum dolor sit amet " * 50)
    val pats = Seq("the", "fox", "pattern1", "pattern2", "lorem")
    val sum = pats.map(p => count(t, Seq(p))).sum
    assert(count(t, pats) == sum)
  }

  // --- regex (test/test_regex.c) ---
  test("regex basics") {
    val t = "Hello 123, hello 456, HELLO 789!"
    assert(count(t, Seq("hello"), re = true, ov = false, cs = false) == 3)
    assert(count(t, Seq("[0-9]+"), re = true, ov = false) == 3)
  }
  test("regex anchors are line-oriented (REG_NEWLINE, krep.c:2148-2161)") {
    // the reference compiles POSIX ERE with REG_NEWLINE; the matcher now
    // compiles Java regex with MULTILINE by default — no inline (?m) needed
    // (test_regex.c:155-161)
    val t = "Line 1: apple\nLine 2: orange\nLine 3: apple\nLine 4: banana"
    assert(count(t, Seq("^Line [0-9]+: (apple|orange)$"), re = true, ov = false) == 3)
    // '$' before each '\n' and at text end; '^' after each '\n'
    assert(count("a\nb\nc", Seq("^[a-z]$"), re = true, ov = false) == 3)
    // zero-width assertions on plain text (test_regex.c:223-230 accepts 1..2)
    assert(count("abcdef", Seq("^|$"), re = true, ov = false) == 2)
    // REG_NEWLINE recognizes ONLY '\n' as a line break (UNIX_LINES): a CRLF
    // line's content is "foo\r", so 'foo$' must NOT match, and '\r' is no
    // line start for '^'
    assert(count("foo\r\nbar", Seq("foo$"), re = true, ov = false) == 0)
    assert(count("foo\r\nbar", Seq("bar$"), re = true, ov = false) == 1)
    assert(count("a\rb", Seq("^b"), re = true, ov = false) == 0)
    assert(count("a\rb", Seq("a$"), re = true, ov = false) == 0)
    // '.' excludes '\n' but matches '\r' (REG_NEWLINE '.' excludes only
    // the newline byte)
    assert(count("a\rb\na", Seq("a.b"), re = true, ov = false) == 1)
  }
  test("regex empty-text edge cases") {
    assert(count("", Seq("^$"), re = true, ov = false) == 1)
    assert(count("", Seq("."), re = true, ov = false) == 0)
  }
  test("final-empty-line + end-window parity with the reference loop " +
      "(krep.c:1427-1560; glibc REG_NEWLINE ground truth)") {
    // text ending in '\n' has a final EMPTY line: '^'-anchored patterns
    // match once more there (glibc finds it from an earlier window; the JDK
    // needs the anchoring-region probe)
    assert(count("a\n", Seq("^$"), re = true, ov = false) == 1)
    assert(count("a\n", Seq("^"), re = true, ov = false) == 2)
    assert(count("\n", Seq("^$"), re = true, ov = false) == 1)
    // ...but the reference's zero-length advance EXITS at len, so a match
    // consumed mid-text doesn't re-probe the end: "a\n\n" stays at 1
    assert(count("a\n\n", Seq("^$"), re = true, ov = false) == 1)
    assert(count("a\n\n", Seq("^"), re = true, ov = false) == 2)
    // the reference never starts a search window at position len, so
    // trailing empty matches the JDK would find there don't count
    assert(count("a\n", Seq("$"), re = true, ov = false) == 1)
    assert(count("a\n\n", Seq("$"), re = true, ov = false) == 2)
    assert(count("a\n", Seq("x*"), re = true, ov = false) == 2)
    assert(count("ab", Seq("x*"), re = true, ov = false) == 2)
    // no trailing newline -> no final empty line
    assert(count("a", Seq("^$"), re = true, ov = false) == 0)
    assert(count("a\nb", Seq("^$"), re = true, ov = false) == 0)
  }
  test("regex backtracking stress a*a*...b") {
    val t = "a" * 31 + "b"
    assert(count(t, Seq("a*a*a*a*a*b"), re = true, ov = false) == 1)
  }
  test("regex non-overlapping 'aba' in 'ababa' = 2... (reference: 2 in abababa)") {
    assert(count("abababa", Seq("aba"), re = true, ov = false) == 2)
  }
  test("IP address patterns (test_krep.c:1111-1142)") {
    val t = "IP addresses: 192.168.1.1 and 10.0.0.1 and 172.16.254.1 ports 8080 443"
    assert(count(t, Seq("192.168.1.1")) == 1)
    assert(count(t, Seq("[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"), re = true, ov = false) == 3)
    assert(count(t, Seq("8080|443"), re = true, ov = false) == 2)
  }

  // --- kernel override, the --algo analog (krep.c:3683-3694) ---
  test("forced kernels compile as forced and are semantically identical") {
    def m(pats: Seq[String], algo: String, cs: Boolean = true,
        ww: Boolean = false, ov: Boolean = true) =
      new KrepMatcher(KrepParams(pats, caseSensitive = cs, wholeWord = ww,
        overlapping = ov, algo = algo))
    // the override really forces the kernel (selector krep.c:1786-1795)
    assert(m(Seq("aba"), "auto").kernelName == "literal-scan")
    assert(m(Seq("aba"), "scan").kernelName == "literal-scan")
    assert(m(Seq("aba"), "ac").kernelName == "aho-corasick")
    // multi-pattern yields to AC regardless, like the reference's bm/kmp
    assert(m(Seq("a", "b"), "scan").kernelName == "aho-corasick")
    assertThrows[IllegalArgumentException](m(Seq("a"), "bogus"))
    // forced AC == auto byte scan across every flag combination
    val texts = Seq("ababababa", "the quick brown The THE fox the end", "",
      "aaaa", "AbAbA", "x" * 100 + "aba", "aba ab aba_aba (aba)")
    for {
      t <- texts; pat <- Seq("aba", "the", "a")
      ov <- Seq(true, false); cs <- Seq(true, false); ww <- Seq(true, false)
    } {
      val s = UTF8String.fromString(t)
      val auto = m(Seq(pat), "auto", cs, ww, ov)
      val ac = m(Seq(pat), "ac", cs, ww, ov)
      val label = s"'$t' pat=$pat ov=$ov cs=$cs ww=$ww"
      assert(auto.count(s) == ac.count(s), s"count: $label")
      val pa = auto.positions(s); val pb = ac.positions(s)
      assert(pa.numElements() == pb.numElements(), s"positions size: $label")
      (0 until pa.numElements()).foreach { i =>
        val ra = pa.getStruct(i, 3); val rb = pb.getStruct(i, 3)
        assert(ra.getInt(0) == rb.getInt(0) && ra.getInt(1) == rb.getInt(1),
          s"position $i: $label")
      }
    }
  }

  // --- binary-safe (test/test_krep.c:1201-1207, 1375-1405) ---
  test("NUL-laden text is searchable byte-wise") {
    val bytes = new Array[Byte](1024)
    bytes(100) = 'a'; bytes(101) = 'b'; bytes(102) = 'c'
    bytes(500) = 'a'; bytes(501) = 'b'; bytes(502) = 'c'
    val s = UTF8String.fromBytes(bytes)
    val m = new KrepMatcher(KrepParams(Seq("abc")))
    assert(m.count(s) == 2)
    val none = UTF8String.fromBytes(Array[Byte](0, 1, 2, 3, 4, 5, 6, 7))
    assert(m.count(none) == 0)
  }

  // --- count-lines -c semantics (test/test_krep.c:564-603) ---
  test("count lines, not matches") {
    val m = new KrepMatcher(KrepParams(Seq("aaa")))
    def lines(t: String) = m.countLines(UTF8String.fromString(t))
    assert(lines("aaa bbb aaa\nbbb aaa\nccc") == 2)
    assert(lines("aaa aaa aaa") == 1)
    assert(lines("bbb\nccc") == 0)
  }

  // --- positions / extract ---
  test("positions are sorted (start, end) with pattern indices") {
    val m = new KrepMatcher(KrepParams(Seq("he", "she", "his", "hers")))
    val p = m.positions(UTF8String.fromString("ushers"))
    // she @ [1,4), he @ [2,4), hers @ [2,6)
    assert(p.numElements() == 3)
    val rows = (0 until 3).map(i => p.getStruct(i, 3))
    assert(rows.map(r => (r.getInt(0), r.getInt(1), r.getInt(2))) ==
      Seq((1, 4, 1), (2, 4, 0), (2, 6, 3)))
  }
  test("literal AND regex paths report BYTE offsets on multi-byte text") {
    // 'é' is 2 UTF-8 bytes: both paths see 'x' at byte [4,5). The regex
    // path converts Java's UTF-16 offsets to bytes at emission (the
    // reference is byte-offset everywhere, krep.h:49-53); the historical
    // char-offset divergence mis-attributed regex matches to lines on
    // multibyte text — caught by the reference-binary differential
    // (scripts/reference_diff.sh) and fixed by the conversion.
    val text = UTF8String.fromString("ééx")
    val lit = new KrepMatcher(KrepParams(Seq("x"))).positions(text)
    assert(lit.numElements() == 1)
    val lr = lit.getStruct(0, 3)
    assert((lr.getInt(0), lr.getInt(1)) == (4, 5), "literal = byte offsets")
    val re = new KrepMatcher(KrepParams(Seq("x"), regex = true,
      overlapping = false)).positions(text)
    assert(re.numElements() == 1)
    val rr = re.getStruct(0, 3)
    assert((rr.getInt(0), rr.getInt(1)) == (4, 5), "regex = byte offsets too")
    // supplementary plane (4-byte emoji = 2 UTF-16 units) converts exactly
    val emoji = UTF8String.fromString("a😀x")
    val re2 = new KrepMatcher(KrepParams(Seq("x"), regex = true,
      overlapping = false)).positions(emoji)
    val r2 = re2.getStruct(0, 3)
    assert((r2.getInt(0), r2.getInt(1)) == (5, 6), "4-byte rune maps to bytes")
    // regex countLines on multibyte text: byte-consistent line attribution
    val m = new KrepMatcher(KrepParams(Seq("[A-Z][a-z]+"), regex = true,
      overlapping = false))
    assert(m.countLines(UTF8String.fromString("café\nAb\ncafé Cd\nx")) == 2L)
  }

  test("extract -o: newline inside match becomes space") {
    val m = new KrepMatcher(KrepParams(Seq("b\nc")))
    val e = m.extract(UTF8String.fromString("a b\nc d"))
    assert(e.numElements() == 1)
    assert(e.getUTF8String(0).toString == "b c")
  }

  // --- -o with line numbers (krep.c:526-653) ---
  test("extractLines: 1-based line numbers, text order, newline->space") {
    def xl(text: String, pats: Seq[String], re: Boolean = false,
        max: Long = Long.MaxValue) = {
      val a = new KrepMatcher(KrepParams(pats, regex = re,
        overlapping = !re, maxCount = max))
        .extractLines(UTF8String.fromString(text))
      (0 until a.numElements).map { i =>
        val r = a.getStruct(i, 2)
        (r.getInt(0), r.getUTF8String(1).toString)
      }
    }
    assert(xl("value x\nno hit\nvalue value", Seq("value")) ==
      Seq((1, "value"), (3, "value"), (3, "value")))
    // multi-pattern matches interleave in start order, not pattern order
    assert(xl("bb aa\naa bb", Seq("aa", "bb")) ==
      Seq((1, "bb"), (1, "aa"), (2, "aa"), (2, "bb")))
    // regex path: char-offset line accounting
    assert(xl("x1\ny22\nz333", Seq("[0-9]+"), re = true) ==
      Seq((1, "1"), (2, "22"), (3, "333")))
    // maxCount caps matches, not lines
    assert(xl("a a a\na", Seq("a"), max = 2) == Seq((1, "a"), (1, "a")))
    assert(xl("nothing here", Seq("zz")).isEmpty)
  }

  test("countLines: newline-spanning multi-pattern matches dedup per line start (AC end-order)") {
    def cl(text: String, pats: Seq[String]) =
      new KrepMatcher(KrepParams(pats)).countLines(UTF8String.fromString(text))
    // "x" (end 3) reports before "a\nx" (end 3, longer) or after — either
    // way the reference counts by find_line_start != last counted start:
    // line 2 (the x) and line 1 (start of a\nx) are both counted
    assert(cl("a\nxq", Seq("x", "a\nx")) == 2)
    // single line, many matches: one counted line
    assert(cl("value value value", Seq("value")) == 1)
    // matches on 3 of 4 lines
    assert(cl("hit\nmiss\nhit hit\nhit", Seq("hit")) == 3)
  }

  test("invalid UTF-8 input (binary cast): regex offsets stay in byte bounds") {
    import org.apache.spark.unsafe.types.UTF8String
    // 0xFF is never valid in UTF-8; toString substitutes U+FFFD (3 UTF-8
    // bytes), so the UTF-16->byte walk no longer reproduces the raw buffer.
    // The matcher must not emit offsets past the raw byte length (the
    // valid-UTF-8 precondition is enforced defensively by clamping).
    val bytes = Array[Byte]('a', 'b', 0xFF.toByte, 'c', 'd', 0xFF.toByte)
    val s = UTF8String.fromBytes(bytes)
    val m = new KrepMatcher(KrepParams(Seq("[a-d]+"), regex = true,
      overlapping = false))
    var maxEnd = -1
    m.foreachMatch(s) { (st, en, _) =>
      assert(st >= 0 && en >= st)
      if (en > maxEnd) maxEnd = en
      true
    }
    assert(maxEnd <= s.numBytes,
      s"offset $maxEnd past raw byte length ${s.numBytes}")
    // count/contains paths must not throw either
    assert(m.count(s) >= 1)
    assert(m.contains(s))
  }

  test("count, contains and positions over an offset view == over a copied array") {
    import java.nio.charset.StandardCharsets.UTF_8
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val pieces = Seq("ab", "Ab", "a", "b_", "x9", " ", ".", "ba", "aB")
    val patGen = Gen.oneOf("ab", "a", "Ab", "b a", "a.", "ba")
    val wordByte = Gen.oneOf("a", "B", "_", "7")
    val caseGen = for {
      pats <- Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, patGen)).map(_.distinct)
      mid <- Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, Gen.oneOf(pieces)))
      // the view's first and last bytes start and end a match
      atStart <- Gen.oneOf(true, false)
      atEnd <- Gen.oneOf(true, false)
      left <- Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, wordByte))
      right <- Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, wordByte))
      cs <- Gen.oneOf(true, false)
      ww <- Gen.oneOf(true, false)
      ov <- Gen.oneOf(true, false)
      algo <- Gen.oneOf("auto", "ac")
    } yield {
      val text = (if (atStart) pats.head else "") + mid.mkString +
        (if (atEnd) pats.last else "")
      (pats, text, left.mkString, right.mkString, cs, ww, ov, algo)
    }
    val cases = Gen.listOfN(400, caseGen).pureApply(Gen.Parameters.default, Seed(7L))
    def spans(m: KrepMatcher, s: UTF8String): Seq[(Int, Int, Int)] = {
      val a = m.positions(s)
      (0 until a.numElements()).map { i =>
        val r = a.getStruct(i, 3)
        (r.getInt(0), r.getInt(1), r.getInt(2))
      }
    }
    var kernels = Set.empty[String]
    var edgeHits = 0
    cases.foreach { case (pats, text, left, right, cs, ww, ov, algo) =>
      val m = new KrepMatcher(KrepParams(pats, caseSensitive = cs, wholeWord = ww,
        overlapping = ov, algo = algo))
      kernels += m.kernelName
      val bytes = text.getBytes(UTF_8)
      val buf = (left + text + right).getBytes(UTF_8)
      val view = UTF8String.fromBytes(buf, left.length, bytes.length)
      val copy = UTF8String.fromBytes(bytes.clone())
      val what = s"pats=$pats text='$text' in '$left|$right' cs=$cs ww=$ww ov=$ov algo=$algo"
      assert(m.count(view) == m.count(copy), what)
      assert(m.contains(view) == m.contains(copy), what)
      assert(m.contains(buf, left.length, left.length + bytes.length) == m.contains(copy), what)
      val want = spans(m, copy)
      assert(spans(m, view) == want, what)
      if (want.exists(_._1 == 0) && want.exists(_._2 == bytes.length)) edgeHits += 1
    }
    assert(kernels == Set("literal-scan", "aho-corasick"))
    assert(edgeHits > 20, s"only $edgeHits cases matched at both view edges")
  }
}
