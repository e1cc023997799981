package graft.kg

import java.util.regex.Pattern
import java.util.Locale

/** Python-semantics string/regex helpers.
  *
  * The per-row contract (BASELINE.json `input_hint`) is byte-identical
  * cleaned text per url versus the reference's Python implementation
  * (/root/reference/src/text_processor.py:116-150). Python's `\s`, `\w`,
  * `str.split()`, `str.strip()` and slicing are Unicode/code-point based
  * and differ from Java defaults, so every primitive the reference relies
  * on is reproduced here explicitly and pinned by golden tests generated
  * from the reference implementation itself (tools/gen_goldens.py).
  *
  * The whitespace primitives (`split`, `strip`, `collapseWs`) are
  * code-point loops over `isPyWs`, not regex scans: every whitespace code
  * point is in the BMP, so a char loop sees exactly the code points a
  * `WS_CLASS` regex would, and `collapseWs` returns its input untouched
  * unless some run is not already one plain space.
  */
object Py {

  /** Python `re.\s` == `str.isspace()` character set (verified identical
    * by enumeration over all code points for CPython 3.11). Java's
    * UNICODE_CHARACTER_CLASS `\s` misses U+001C..U+001F, so we always use
    * this explicit class instead of `\s`. */
  val WS_CLASS: String =
    "[\\t-\\r\\x1c-\\x20\\x85\\xa0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000]"

  def isPyWs(cp: Int): Boolean =
    (cp >= 0x9 && cp <= 0xd) || (cp >= 0x1c && cp <= 0x20) ||
      cp == 0x85 || cp == 0xa0 || cp == 0x1680 ||
      (cp >= 0x2000 && cp <= 0x200a) || cp == 0x2028 || cp == 0x2029 ||
      cp == 0x202f || cp == 0x205f || cp == 0x3000

  /** Python `str.split()` — split on runs of whitespace, no empties. */
  def split(s: String): Array[String] = {
    val out = Array.newBuilder[String]
    val n = s.length
    var i = 0
    while (i < n) {
      while (i < n && isPyWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isPyWs(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i)
    }
    out.result()
  }

  /** Python `str.strip()` (no args) — strip `isspace` chars both ends. */
  def strip(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && {
        val cp = s.codePointAt(i); if (isPyWs(cp)) { i += Character.charCount(cp); true } else false
      }) {}
    while (j > i && {
        val cp = s.codePointBefore(j); if (isPyWs(cp)) { j -= Character.charCount(cp); true } else false
      }) {}
    s.substring(i, j)
  }

  /** Python `str.lower()` ≈ Locale.ROOT lowercase (golden-verified). */
  def lower(s: String): String = s.toLowerCase(Locale.ROOT)

  /** Python `s[::-1]` reverses code points; StringBuilder.reverse keeps
    * surrogate pairs intact, matching that. */
  def reversed(s: String): String = new StringBuilder(s).reverse.toString

  /** Code-point length (Python `len`). */
  def len(s: String): Int = s.codePointCount(0, s.length)

  /** Python `s[:n]` — slice by code points. */
  def slice(s: String, n: Int): String = {
    if (n <= 0) return ""
    if (s.codePointCount(0, s.length) <= n) s
    else s.substring(0, s.offsetByCodePoints(0, n))
  }

  /** Code-point index of a UTF-16 offset (for `match.start()` parity). */
  def cpIndex(s: String, utf16: Int): Int = s.codePointCount(0, utf16)

  /** Python `re.sub(r'\s+', ' ', s)`. */
  def collapseWs(s: String): String = {
    val n = s.length
    // the first run that is not a lone ' ' — the first char to rewrite
    var i = 0
    while (i < n && {
        val c = s.charAt(i)
        !isPyWs(c) || (c == ' ' && (i + 1 == n || !isPyWs(s.charAt(i + 1))))
      }) i += 1
    if (i == n) return s
    val sb = new java.lang.StringBuilder(n).append(s, 0, i)
    while (i < n) {
      val start = i
      while (i < n && !isPyWs(s.charAt(i))) i += 1
      sb.append(s, start, i)
      if (i < n) {
        sb.append(' ')
        while (i < n && isPyWs(s.charAt(i))) i += 1
      }
    }
    sb.toString
  }

  /** Python `str.capitalize()` — first cp titlecased, rest lowered. */
  def capitalize(s: String): String = {
    if (s.isEmpty) s
    else {
      val first = s.codePointAt(0)
      val rest = s.substring(Character.charCount(first))
      new String(Character.toChars(Character.toTitleCase(first))) + lower(rest)
    }
  }

  /** Compile with Python-`re` friendly defaults: UNICODE_CHARACTER_CLASS
    * makes `\b`/`\w`/`\d` Unicode-aware like Python's; UNIX_LINES makes
    * `^`/`$`/`.` treat ONLY `\n` as a line terminator, matching CPython
    * (Java otherwise also recognizes \r\n, \r, U+0085, U+2028, U+2029 — so a
    * Java `$` would match before a trailing `\r` where Python's `$` does
    * not, and Java `.` would refuse to match `\r`). */
  def pat(regex: String, flags: Int = 0): Pattern =
    Pattern.compile(regex, flags | Pattern.UNICODE_CHARACTER_CLASS | Pattern.UNIX_LINES)

  val CASE_I: Int = Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE
  val MULTI: Int = Pattern.MULTILINE
  val DOTALL: Int = Pattern.DOTALL

  /** Python `re.split(pattern, s)` with no capture groups, limit -1. */
  def reSplit(p: Pattern, s: String): Array[String] = p.split(s, -1)
}
