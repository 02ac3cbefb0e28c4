package graft.slowlog

/**
 * The `java.util.regex` character classes the slow-log scanners test
 * with, so that [[SlowLogParser]] and [[Fingerprint]] match exactly what
 * the regexes they replaced matched (each scanner is fuzzed against its
 * regex in `SlowLogScannerSpec`). Default flags throughout: no
 * UNICODE_CHARACTER_CLASS, so `\s`, `\w` and `\d` are ASCII-only.
 */
private[slowlog] object Scan {

  /** `\s`: space, `\t`, `\n`, `\u000B`, `\f`, `\r`. */
  def isSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** `\d`. */
  def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** `\w`: ASCII letters, digits and `_`. */
  def isWord(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || isDigit(c) || c == '_'

  /** First index at or after `i` whose char is not `\s`. */
  def skipSpace(s: String, i: Int): Int = {
    var j = i
    while (j < s.length && isSpace(s.charAt(j))) j += 1
    j
  }

  /** Whether `\b` counts the code point before index `i` as a word
    * character. Unlike `\w` this is Unicode: `Character.isLetterOrDigit`
    * or `_`, or a non-spacing mark that follows a letter or digit. A
    * `\b` in front of a word character holds exactly when this is false. */
  def wordBefore(s: String, i: Int): Boolean =
    i > 0 && {
      val cp = Character.codePointBefore(s, i)
      cp == '_' || Character.isLetterOrDigit(cp) ||
        (Character.getType(cp) == Character.NON_SPACING_MARK && hasBase(s, i - 1))
    }

  /** A letter or digit at `i`, or before it behind non-spacing marks only. */
  private def hasBase(s: String, i: Int): Boolean = {
    var x = i
    while (x >= 0) {
      val cp = Character.codePointAt(s, x)
      if (Character.isLetterOrDigit(cp)) return true
      if (Character.getType(cp) != Character.NON_SPACING_MARK) return false
      x -= 1
    }
    false
  }
}
