package graft.krep

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

/** Query-shaped match parameters — the engine's `search_params_t`
  * (reference: krep.h:65-94). One canonical logical semantics; the matcher
  * dispatches to a physical kernel (single-literal scan, Aho-Corasick
  * multi-pattern, Java regex) exactly like the reference's kernel selector
  * (krep.c:1771-1870), but the *semantics* are pinned by flags, not by which
  * kernel runs:
  *
  *  - `overlapping = true`  — every occurrence counts (reference BMH/AC
  *    behavior, test/test_krep.c:453-457: 'aba' in "ababa..." = 3)
  *  - `overlapping = false` — next search resumes at match end (reference
  *    KMP / `-o` behavior, test/test_krep.c:458: same text = 2)
  *  - `wholeWord` — match must not be flanked by [A-Za-z0-9_]
  *    (krep.h:290-319)
  *  - `caseSensitive = false` — byte-wise ASCII fold only (krep.c:124-134);
  *    for regex this maps to Java CASE_INSENSITIVE *without* UNICODE_CASE,
  *    which is likewise ASCII-only.
  *  - `maxCount` — stop after N matches (lines for countLines), the `-m`
  *    limiter enforced inside every reference kernel (krep.c:1366-1367).
  *  - `algo` — PHYSICAL kernel override, the `--algo {auto,bm,kmp}` analog
  *    (krep.c:3683-3694, selector krep.c:1786-1795). Forces which kernel
  *    executes, for benchmarking and differential proof: "auto" (selector
  *    picks), "ac" (Aho-Corasick even for a single literal), "scan" (the
  *    byte scan, and the contains-intrinsic rewrite stands down). Semantics
  *    are identical across kernels except one reference-faithful edge: on a
  *    FAILED whole-word check the scan resumes past the match (the KMP rule,
  *    krep.c:1684-1688) while AC keeps scanning overlapped candidates (the
  *    BMH bad-char rule, krep.c:1323-1329) — observable only for wholeWord
  *    patterns containing non-word bytes, where the reference's own --algo
  *    diverges the same way.
  */
final case class KrepParams(
    patterns: Seq[String],
    caseSensitive: Boolean = true,
    wholeWord: Boolean = false,
    overlapping: Boolean = true,
    regex: Boolean = false,
    maxCount: Long = Long.MaxValue,
    algo: String = "auto") {
  require(patterns.nonEmpty, "at least one pattern required")
  require(patterns.size <= 1024, "reference caps patterns at 1024 (krep.c:3571)")
  require(Set("auto", "ac", "scan")(algo),
    s"unknown algo '$algo' — valid: auto, ac, scan (reference krep.c:3691)")
}

/** Compiled matcher: one instance per expression, built lazily on each
  * executor (the analog of the reference compiling its trie/regex/bad-char
  * tables once per file and sharing them read-only across threads,
  * krep.c:2524-2623).
  *
  * All literal matching is byte-wise over the UTF8String's bytes — identical
  * to the reference's memcmp semantics, NUL-safe, and free of any
  * UTF-8-decode cost. The literal and Aho-Corasick kernels run over an
  * offset view `bytes[from, until)` where it lies: a `UTF8String` backed by
  * an on-heap `byte[]` is never copied, match offsets are relative to the
  * view, and the view's edges are text edges for whole-word checks. Regex
  * matching uses Java regex over the decoded string (documented semantic
  * pin, SURVEY.md §7.4).
  */
final class KrepMatcher(val params: KrepParams) extends Serializable {

  import params._

  // ---- compiled artifacts -------------------------------------------------
  // kernel selection (krep.c:1771-1870 select_search_algorithm, with the
  // --algo override checked first, krep.c:1786-1795): a single literal takes
  // the byte scan unless algo forces AC; multi-pattern always takes AC
  // ("scan"/"auto" on a multi-pattern set fall back to AC, exactly as the
  // reference's bm/kmp override silently yields to the multi-pattern path);
  // regex ignores the override on both sides
  private val singleLiteral: Array[Byte] =
    if (!regex && patterns.size == 1 && algo != "ac") {
      val b = patterns.head.getBytes("UTF-8")
      if (caseSensitive) b else AsciiFold.foldBytes(b)
    } else null

  private val ac: AhoCorasick =
    if (!regex && (patterns.size > 1 || algo == "ac"))
      AhoCorasick.build(patterns.map(_.getBytes("UTF-8")), caseSensitive)
    else null

  /** Which physical kernel this matcher compiled to — the observable half of
    * the `--algo` analog (semantics are identical across kernels; the
    * differential spec proves it).
    */
  def kernelName: String =
    if (regex) "regex"
    else if (singleLiteral != null) "literal-scan"
    else "aho-corasick"

  @transient private lazy val javaRegex: Pattern =
    if (regex) {
      // multi-pattern OR, same construction as the reference (krep.c:2543-2572)
      val body = patterns.map(p => s"(?:$p)").mkString("|")
      val wrapped =
        if (wholeWord) s"(?<![A-Za-z0-9_])(?:$body)(?![A-Za-z0-9_])" else body
      // MULTILINE pins '^'/'$' to line boundaries — the reference compiles
      // POSIX ERE with REG_NEWLINE (krep.c:2148-2161), making anchors
      // line-oriented. UNIX_LINES narrows Java's line terminators (\r, \r\n,
      // NEL u0085, LS u2028, PS u2029) to '\n' alone, which is all REG_NEWLINE
      // recognizes — without it, CRLF text diverges ("foo\r\nbar": 'foo$'
      // must NOT match, the line content is "foo\r"); it also aligns '.' to
      // exclude only '\n'
      val flags = Pattern.MULTILINE | Pattern.UNIX_LINES |
        (if (caseSensitive) 0 else Pattern.CASE_INSENSITIVE)
      Pattern.compile(wrapped, flags)
    } else null

  /** JDK quirk: MULTILINE '^'/'$' never match inside an EMPTY input, while
    * POSIX REG_NEWLINE's "^$" matches the empty string once
    * (test_regex.c:177-180). On empty input line anchors and text anchors
    * coincide, so an un-MULTILINE twin is semantically exact there.
    */
  @transient private lazy val emptyTextRegex: Pattern =
    Pattern.compile(javaRegex.pattern,
      javaRegex.flags & ~Pattern.MULTILINE)

  // ---- match enumeration --------------------------------------------------

  /** Whole-word check of the match `[start, end)` of the view `[from,
    * until)`: the view's edges are text edges, so bytes outside it never
    * veto a match.
    */
  @inline private def wordOk(bytes: Array[Byte], from: Int, until: Int,
      start: Int, end: Int): Boolean =
    !wholeWord ||
      ((start == from || !AsciiFold.isWordByte(bytes(start - 1))) &&
        (end >= until || !AsciiFold.isWordByte(bytes(end))))

  /** Visit matches as (start, end, patternIdx); stop when onMatch is false.
    * A string backed by an on-heap `byte[]` (a row field, a dict term) is
    * scanned where it lies through the range entry below; only an off-heap
    * string is copied out first.
    */
  def foreachMatch(s: UTF8String)(onMatch: (Int, Int, Int) => Boolean): Unit = {
    if (regex) {
      val str = s.toString
      if (str.isEmpty) {
        // reference special-case (krep.c:1403-1416): empty haystack probes
        // the pattern against "" once, un-MULTILINE (JDK quirk: MULTILINE
        // "^$" never matches inside empty input; POSIX does, once)
        val m = emptyTextRegex.matcher(str)
        if (m.find()) onMatch(m.start, m.end, 0)
      } else {
        // Java regex reports UTF-16 offsets; the reference is byte-offset
        // everywhere (krep.h:49-53), so matches are converted before emission
        // and ALL paths report byte offsets. Identity (null map) when the
        // text is pure ASCII — numBytes == numChars == UTF-16 length exactly
        // then; match boundaries always sit on code-point starts, so byte
        // slices of [start, end) stay valid UTF-8.
        val u16ToByte: Array[Int] =
          if (s.numBytes == str.length) null
          else {
            val map = new Array[Int](str.length + 1)
            var bi = 0
            var ci = 0
            while (ci < str.length) {
              map(ci) = bi
              val cp = str.codePointAt(ci)
              bi += (if (cp < 0x80) 1 else if (cp < 0x800) 2
                     else if (cp < 0x10000) 3 else 4)
              if (Character.charCount(cp) == 2) { map(ci + 1) = bi; ci += 2 }
              else ci += 1
            }
            map(str.length) = bi
            map
          }
        // Valid-UTF-8 precondition, enforced defensively: a UTF8String
        // holding INVALID UTF-8 (possible via binary casts) has its broken
        // sequences replaced by U+FFFD in toString, so the byte walk above
        // no longer reproduces the raw buffer (map(len) != numBytes) and
        // exact reference raw-byte offsets are unrecoverable post-
        // substitution. Offsets are then clamped into the raw byte range so
        // downstream slicing (positions/extract) stays in bounds instead of
        // reading past the buffer.
        val clampMax =
          if (u16ToByte != null && u16ToByte(str.length) != s.numBytes)
            s.numBytes
          else Int.MaxValue
        @inline def toByteOff(i: Int): Int =
          if (u16ToByte == null) i else math.min(u16ToByte(i), clampMax)
        // The reference loop (krep.c:1427-1560) never starts a search window
        // at the very end of the text (`while (rem > 0 ...)`), so a match at
        // position len is counted ONLY when an earlier window's first match
        // lands there ("$" on "a\n" counts 1 at [1,1), not also [2,2); "x*"
        // on "ab" counts 2, not 3). Java's find() probes position len
        // itself, so the loop guard here is `from < length`, not `<=`.
        val m = javaRegex.matcher(str)
        var from = 0
        var go = true
        var exhausted = false
        while (go && from < str.length && { exhausted = !m.find(from); !exhausted }) {
          go = onMatch(toByteOff(m.start), toByteOff(m.end), 0)
          // zero-length match must advance by one (reference krep.c:1543-1549)
          from = if (m.end == m.start) m.end + 1
          else if (overlapping) m.start + 1
          else m.end
        }
        // POSIX REG_NEWLINE treats text ending in '\n' as having a final
        // EMPTY line: glibc finds "^$" at the position after the last
        // newline from a window that STARTED earlier, but JDK MULTILINE '^'
        // never matches at end-of-input. If the JDK search exhausted the
        // text without reaching len, probe that one empty position with the
        // un-MULTILINE twin in an anchoring region (region bounds make
        // '^'/'$' match at region edges — exactly the empty-line anchor
        // semantics; glibc ground truth: "^$" on "a\n" = 1 at [2,2), while
        // "^$" on "a\n\n" = 1 at [2,2) only, because the zero-length
        // advance exits the loop at len — which `exhausted` mirrors).
        if (go && exhausted && str.charAt(str.length - 1) == '\n') {
          val m2 = emptyTextRegex.matcher(str)
          m2.region(str.length, str.length)
          if (m2.find()) onMatch(toByteOff(m2.start), toByteOff(m2.end), 0)
        }
      }
    } else s.getBaseObject match {
      case a: Array[Byte] =>
        val from = (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
        foreachMatch(a, from, from + s.numBytes)(onMatch)
      case _ =>
        val bytes = s.getBytes
        foreachMatch(bytes, 0, bytes.length)(onMatch)
    }
  }

  /** [[foreachMatch]] over the view `bytes[from, until)`, with no copy for
    * the literal and Aho-Corasick kernels; offsets are relative to `from`.
    * Regex decodes the view, as it does any string.
    */
  def foreachMatch(bytes: Array[Byte], from: Int, until: Int)(
      onMatch: (Int, Int, Int) => Boolean): Unit =
    if (regex) foreachMatch(UTF8String.fromBytes(bytes, from, until - from))(onMatch)
    else if (singleLiteral != null) scanSingle(bytes, from, until, onMatch)
    else if (overlapping) {
      ac.scan(bytes, from, until) { (st, en, p) =>
        !wordOk(bytes, from, until, st, en) || onMatch(st - from, en - from, p)
      }
      ()
    } else {
      // non-overlapping multi-pattern: leftmost-first, resume at match end
      var lastEnd = from
      ac.scan(bytes, from, until) { (st, en, p) =>
        if (st >= lastEnd && wordOk(bytes, from, until, st, en)) {
          lastEnd = en
          onMatch(st - from, en - from, p)
        } else true
      }
      ()
    }

  private def scanSingle(bytes: Array[Byte], from: Int, until: Int,
      onMatch: (Int, Int, Int) => Boolean): Unit = {
    val pat = singleLiteral
    val plen = pat.length
    if (plen == 0 || plen > until - from) return
    val first = pat(0)
    var i = from
    val limit = until - plen
    var go = true
    while (go && i <= limit) {
      // fold text byte on the fly for case-insensitive mode
      val b = if (caseSensitive) bytes(i) else AsciiFold.fold(bytes(i))
      if (b == first && regionMatches(bytes, i, pat)) {
        if (wordOk(bytes, from, until, i, i + plen))
          go = onMatch(i - from, i - from + plen, 0)
        i += (if (overlapping) 1 else plen)
      } else i += 1
    }
  }

  @inline private def regionMatches(bytes: Array[Byte], at: Int,
      pat: Array[Byte]): Boolean = {
    var j = 1
    if (caseSensitive) {
      while (j < pat.length) {
        if (bytes(at + j) != pat(j)) return false
        j += 1
      }
    } else {
      while (j < pat.length) {
        if (AsciiFold.fold(bytes(at + j)) != pat(j)) return false
        j += 1
      }
    }
    true
  }

  // ---- terminal operations (called from expressions / codegen) ------------

  def count(s: UTF8String): Long = {
    if (maxCount <= 0) return 0L
    var n = 0L
    foreachMatch(s) { (_, _, _) => n += 1; n < maxCount }
    n
  }

  def contains(s: UTF8String): Boolean = {
    if (maxCount <= 0) return false // consistent with count/positions at -m 0
    var hit = false
    foreachMatch(s) { (_, _, _) => hit = true; false }
    hit
  }

  /** [[contains]] over the view `bytes[from, until)`. */
  def contains(bytes: Array[Byte], from: Int, until: Int): Boolean = {
    if (maxCount <= 0) return false
    var hit = false
    foreachMatch(bytes, from, until) { (_, _, _) => hit = true; false }
    hit
  }

  /** Lines (separated by '\n') containing >= 1 match — the `-c` semantics
    * (reference P5: dedup per line, skip to next line, krep.c:1331-1351).
    */
  def countLines(s: UTF8String): Long = {
    if (maxCount <= 0) return 0L
    val bytes = s.getBytes
    var lines = 0L
    var lastStart = -1 // line start of the last counted line
    var lastNl = -1 // its terminating '\n' index (or text length)
    foreachMatch(s) { (st, _, _) =>
      // reference semantics (krep.c:1331-1351, aho_corasick.c:390-402):
      // find_line_start per match, count when it differs from the last
      // counted line's start. Fast path: a match starting inside the last
      // counted line's [start, '\n'] span shares its line start — O(1), no
      // per-match back-scan on long single-line docs; the boundary scans run
      // at most twice per COUNTED line.
      val onCountedLine = lastStart >= 0 && st >= lastStart && st <= lastNl
      if (!onCountedLine) {
        var ls = st
        while (ls > 0 && bytes(ls - 1) != '\n') ls -= 1
        if (ls != lastStart) {
          lines += 1
          lastStart = ls
          var e = st
          while (e < bytes.length && bytes(e) != '\n') e += 1
          lastNl = e
        }
      }
      lines < maxCount
    }
    lines
  }

  /** ARRAY<STRUCT<start INT, end INT, pattern INT>>, sorted by (start, end)
    * (reference sorts merged positions before output, krep.c:419-434).
    */
  def positions(s: UTF8String): ArrayData = {
    if (maxCount <= 0) return new GenericArrayData(Array.empty[Any])
    val buf = ArrayBuffer.empty[InternalRow]
    foreachMatch(s) { (st, en, p) =>
      buf += InternalRow(st, en, p)
      buf.length < maxCount
    }
    val arr = buf.toArray
    java.util.Arrays.sort(arr, (a: InternalRow, b: InternalRow) => {
      val c = Integer.compare(a.getInt(0), b.getInt(0))
      if (c != 0) c else Integer.compare(a.getInt(1), b.getInt(1))
    })
    new GenericArrayData(arr.asInstanceOf[Array[Any]])
  }

  /** The `-o` projection WITH line numbers: ARRAY<STRUCT<ln INT, m STRING>>
    * sorted by match (start, end); `ln` is the 1-based '\n'-line of the match
    * start — the reference prints `file:line:match` in only-matching mode,
    * resolving each position against a newline index (krep.c:526-653). Here
    * the sorted matches are resolved in ONE forward pass instead of a binary
    * search per match.
    */
  def extractLines(s: UTF8String): ArrayData = {
    if (maxCount <= 0) return new GenericArrayData(Array.empty[Any])
    val spans = ArrayBuffer.empty[(Int, Int)]
    foreachMatch(s) { (st, en, _) =>
      spans += ((st, en))
      spans.length < maxCount
    }
    if (spans.isEmpty) return new GenericArrayData(Array.empty[Any])
    val sorted = spans.sortBy(identity).toArray
    val out = new Array[Any](sorted.length)
    // every path reports byte offsets (the regex path converts from UTF-16),
    // so line resolution and slicing are uniformly byte-oriented
    val bytes = s.getBytes
    var line = 1
    var scanned = 0
    var i = 0
    while (i < sorted.length) {
      val (st, en) = sorted(i)
      while (scanned < st) {
        if (bytes(scanned) == '\n') line += 1
        scanned += 1
      }
      val slice = java.util.Arrays.copyOfRange(bytes, st, en)
      var j = 0
      while (j < slice.length) { if (slice(j) == '\n') slice(j) = ' '; j += 1 }
      out(i) = InternalRow(line, UTF8String.fromBytes(slice))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Matched substrings in text order (the `-o` projection, krep.c:517-793;
    * newlines inside a match become spaces, krep.c:700-714).
    */
  def extract(s: UTF8String): ArrayData = {
    if (maxCount <= 0) return new GenericArrayData(Array.empty[Any])
    val out = ArrayBuffer.empty[UTF8String]
    // byte offsets on every path (regex converts from UTF-16)
    val bytes = s.getBytes
    foreachMatch(s) { (st, en, _) =>
      val slice = java.util.Arrays.copyOfRange(bytes, st, en)
      var i = 0
      while (i < slice.length) { if (slice(i) == '\n') slice(i) = ' '; i += 1 }
      out += UTF8String.fromBytes(slice)
      out.length < maxCount
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }
}
