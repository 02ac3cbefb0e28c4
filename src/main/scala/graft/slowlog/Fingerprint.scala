package graft.slowlog

import java.security.MessageDigest
import java.util.Locale

/**
 * pt-query-digest-compatible SQL normalization ("fingerprinting") and the
 * 16-hex-char digest id derived from it.
 *
 * Semantics follow the publicly documented pt-query-digest / Percona
 * `go-mysql` `query.Fingerprint` behavior (SURVEY.md §2.1 R7–R8; the
 * reference checkout is empty, so this is a re-implementation from the
 * public contract, not a port):
 *
 *  - lowercase the whole statement;
 *  - collapse all whitespace (incl. newlines) to single spaces, trim;
 *  - strip comments: block comments, `-- ...` (to end of line), `# ...`;
 *  - replace value literals with `?`: quoted strings (single/double,
 *    backslash and doubled-quote escapes), numbers (int, decimal,
 *    scientific, `0x` hex, unary-signed in value position), `null`;
 *  - collapse literal IN-lists: `in (?, ?, ?)` → `in(?+)`;
 *  - collapse single- and multi-row VALUES lists: `values (?),(?)` →
 *    `values(?+)` (also the `value` spelling);
 *  - `use somedb` → `use ?`;
 *  - administrator commands pass through unchanged;
 *  - trailing semicolons stripped.
 *
 * Implemented as one char-scan that normalizes, then hand-written
 * rewrite scans over the normalized string for the IN-list, VALUES-list
 * and LIMIT collapses (exact twins of the regexes they replaced, fuzzed
 * against them in `SlowLogScannerSpec`). Three regexes remain, each
 * behind a substring test that most statements fail: the percona-toolkit
 * comment (only when a block comment opens), the ORDER BY ASC drop (only
 * when ` asc` occurs) and CALL (only for statements starting `call `).
 */
object Fingerprint {

  // pt-query-digest rule: redundant ASC in ORDER BY is dropped
  private val OrderByAsc =
    """(\border by [^;]*?)\s+asc\b""".r
  // pt-query-digest rule: CALL statements normalize to `call procname`
  private val CallStmt =
    """^call\s+([^\s(]+).*$""".r
  // pt-query-digest / go-mysql special case: statements carrying a
  // percona-toolkit progress comment (`/*host.db:3/5*/`) all fingerprint
  // to the literal "percona-toolkit"
  private val PtToolkitComment =
    """/\*\w+\.\w+:\d/\d\*/""".r
  // pt-query-digest / go-mysql special case: mysqldump's table-copy
  // SELECTs (exact emitted casing) all fingerprint to "mysqldump"
  private val MysqldumpPrefix =
    "SELECT /*!40001 SQL_NO_CACHE */ * FROM `"

  def fingerprint(query: String): String = {
    if (query == null) return null
    val trimmed = query.trim
    // only an a/A lower-cases to a leading 'a', so the test skips the
    // lower-cased copy on every other statement
    if (trimmed.nonEmpty && (trimmed.charAt(0) | 0x20) == 'a' &&
        trimmed.toLowerCase(Locale.ROOT).startsWith("administrator command:"))
      return stripTrailingSemis(trimmed)
    if (trimmed.startsWith(MysqldumpPrefix)) return "mysqldump"
    if (trimmed.contains("/*") && PtToolkitComment.findFirstIn(trimmed).isDefined)
      return "percona-toolkit"

    val n  = trimmed.length
    val sb = new StringBuilder(n)
    var i  = 0

    def lastEmitted: Char = if (sb.isEmpty) ' ' else sb.charAt(sb.length - 1)

    // Last non-space emitted char — decides unary vs binary +/- and whether
    // a digit starts a literal or continues an identifier.
    def lastMeaningful: Char = {
      var j = sb.length - 1
      while (j >= 0 && sb.charAt(j) == ' ') j -= 1
      if (j >= 0) sb.charAt(j) else ' '
    }

    def emitSpace(): Unit =
      if (lastEmitted != ' ' && sb.nonEmpty) sb.append(' ')

    def isIdentChar(c: Char): Boolean =
      c.isLetterOrDigit || c == '_' || c == '$'

    // True when a +/- right after this char is a unary sign on a literal
    // (operator, comma, open paren, or start of statement) rather than a
    // binary operator after an identifier/number/closing paren.
    def isValuePos(prev: Char): Boolean = prev match {
      case '(' | ',' | '=' | '<' | '>' | '*' | '/' | '+' | '-' | '%' | ' ' => sb.isEmpty || prev != ' '
      case _ => false
    }

    // Consume a numeric literal starting at position j (after any sign).
    // Returns the index just past the literal, or j if none present.
    def numberEnd(j: Int): Int = {
      var k = j
      if (k + 1 < n && trimmed.charAt(k) == '0' &&
          (trimmed.charAt(k + 1) == 'x' || trimmed.charAt(k + 1) == 'X')) {
        k += 2
        while (k < n && isHex(trimmed.charAt(k))) k += 1
        return k
      }
      // 0b01-style bit-value literals (pt's number class includes `b`:
      // `[0-9+-][0-9a-f.xb+-]*` eats the whole token) — consume like 0x;
      // 0b followed by a non-bit char falls through to the digit scan
      if (k + 2 < n && trimmed.charAt(k) == '0' &&
          (trimmed.charAt(k + 1) == 'b' || trimmed.charAt(k + 1) == 'B') &&
          (trimmed.charAt(k + 2) == '0' || trimmed.charAt(k + 2) == '1')) {
        k += 2
        while (k < n && (trimmed.charAt(k) == '0' || trimmed.charAt(k) == '1')) k += 1
        return k
      }
      while (k < n && trimmed.charAt(k).isDigit) k += 1
      if (k < n && trimmed.charAt(k) == '.') {
        k += 1
        while (k < n && trimmed.charAt(k).isDigit) k += 1
      }
      if (k > j && k < n && (trimmed.charAt(k) == 'e' || trimmed.charAt(k) == 'E')) {
        var e = k + 1
        if (e < n && (trimmed.charAt(e) == '+' || trimmed.charAt(e) == '-')) e += 1
        var d = e
        while (d < n && trimmed.charAt(d).isDigit) d += 1
        if (d > e) k = d
      }
      k
    }

    def isHex(c: Char): Boolean =
      c.isDigit || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

    while (i < n) {
      val c = trimmed.charAt(i)
      c match {
        // -- quoted string literals → ?
        case '\'' | '"' =>
          val quote = c
          i += 1
          var done = false
          while (i < n && !done) {
            val ch = trimmed.charAt(i)
            if (ch == '\\' && i + 1 < n) i += 2
            else if (ch == quote && i + 1 < n && trimmed.charAt(i + 1) == quote) i += 2
            else if (ch == quote) { i += 1; done = true }
            else i += 1
          }
          // pt's second number rewrite (`[xb.+-]\? → ?`) collapses the
          // hex/bit string introducers x'..'/b'..' into the ?; replicate
          // for a STANDALONE adjacent x/b (preceded by a non-identifier
          // char). n'..' and _charset'..' introducers stay — their last
          // char is not in pt's [xb.+-] class.
          val li = sb.length - 1
          if (li >= 0 && (sb.charAt(li) == 'x' || sb.charAt(li) == 'b') &&
              (li == 0 || (!isIdentChar(sb.charAt(li - 1)) &&
                sb.charAt(li - 1) != '`' && sb.charAt(li - 1) != '?')))
            sb.deleteCharAt(li)
          sb.append('?')

        // -- backtick identifiers pass through (lowercased, quotes kept)
        case '`' =>
          sb.append('`'); i += 1
          while (i < n && trimmed.charAt(i) != '`') {
            sb.append(trimmed.charAt(i).toLower); i += 1
          }
          if (i < n) { sb.append('`'); i += 1 }

        // -- comments → single space
        case '/' if i + 1 < n && trimmed.charAt(i + 1) == '*' =>
          i += 2
          while (i + 1 < n && !(trimmed.charAt(i) == '*' && trimmed.charAt(i + 1) == '/')) i += 1
          i = math.min(i + 2, n)
          emitSpace()
        case '-' if i + 1 < n && trimmed.charAt(i + 1) == '-' &&
                    (i + 2 >= n || trimmed.charAt(i + 2).isWhitespace) =>
          while (i < n && trimmed.charAt(i) != '\n') i += 1
          emitSpace()
        case '#' =>
          while (i < n && trimmed.charAt(i) != '\n') i += 1
          emitSpace()

        // -- whitespace runs → one space
        case w if w.isWhitespace =>
          emitSpace(); i += 1

        // -- unary-signed numbers in value position → ?
        case '-' | '+' if {
              val after = i + 1
              after < n &&
              (trimmed.charAt(after).isDigit ||
               (trimmed.charAt(after) == '.' && after + 1 < n && trimmed.charAt(after + 1).isDigit)) &&
              isValuePos(lastMeaningful)
            } =>
          i = numberEnd(i + 1)
          sb.append('?')

        // -- bare numbers → ? unless continuing an identifier (web01, t1)
        case d if d.isDigit =>
          if (isIdentChar(lastEmitted) || lastEmitted == '`') {
            // inside an identifier: copy digits through
            while (i < n && isIdentChar(trimmed.charAt(i))) {
              sb.append(trimmed.charAt(i).toLower); i += 1
            }
          } else {
            i = numberEnd(i)
            sb.append('?')
          }

        // -- leading-dot decimals: .5
        case '.' if i + 1 < n && trimmed.charAt(i + 1).isDigit && !isIdentChar(lastEmitted) =>
          i = numberEnd(i)
          sb.append('?')

        // -- identifiers / keywords
        case a if a.isLetter || a == '_' =>
          val start = i
          while (i < n && isIdentChar(trimmed.charAt(i))) i += 1
          val word = trimmed.substring(start, i).toLowerCase(Locale.ROOT)
          // pt rule: NULL and boolean literals abstract to ? (whole-word
          // only — `true_flag` is an identifier and passes through)
          if (word == "null" || word == "true" || word == "false")
            sb.append('?')
          else sb.append(word)

        case other =>
          sb.append(other.toLower); i += 1
      }
    }

    var out = sb.result().trim
    // Each rewrite is guarded by a cheap substring test that is NECESSARY
    // for it to match: every collapse needs a `?`, OrderByAsc's \s+asc is
    // " asc" post-normalization (whitespace is single spaces by now),
    // CallStmt anchors at "call ".
    if (out.indexOf('?') >= 0) {
      out = collapseInClauses(out)
      out = collapseValuesRows(out)
      out = collapseLimitPair(out)
    }
    if (out.contains(" asc")) {
      var prev: String = null
      while (prev != out) { // fixpoint: one ASC removed per pass
        prev = out
        out = OrderByAsc.replaceAllIn(out, "$1")
      }
    }
    out = stripTrailingSemis(out)
    if (out.startsWith("call "))
      out = CallStmt.replaceAllIn(out, m => "call " + java.util.regex.Matcher.quoteReplacement(m.group(1)))
    // USE statement → use ? — anchored like pt's `\Ause \S+\Z`: the
    // WHOLE statement must be `use <name>` (a multi-statement line
    // `use db1; select ?` keeps its tail; pt leaves it un-rewritten too)
    val useRewrite =
      (out.startsWith("use ") && out.indexOf(' ', 4) < 0) ||
      (out.startsWith("use`") && out.indexOf(' ') < 0)
    if (useRewrite) "use ?" else out
  }

  /** Every `in (?, ?, ...)` whose `in` starts a word → `in(?+)`; the
    * rewrite `\bin\s*\(\s*\?(?:\s*,\s*\?)*\s*\)` → `in(?+)` made. */
  private[slowlog] def collapseInClauses(s: String): String =
    rewrite(s, "in", "in(?+)") { k =>
      placeholdersEnd(s, Scan.skipSpace(s, k + 2))
    }

  /** Single- and multi-row `values (?, ?), (?)` (or `value`) → `values(?+)`;
    * the rewrite of `\bvalues?` + a placeholder row + any number of
    * `,` + placeholder row. */
  private[slowlog] def collapseValuesRows(s: String): String =
    rewrite(s, "value", "values(?+)") { k =>
      val v = k + "value".length
      val withS = if (v < s.length && s.charAt(v) == 's') rowsEnd(s, v + 1) else -1
      if (withS >= 0) withS else rowsEnd(s, v)
    }

  /** pt-query-digest rule: `limit ?, ?` / `limit ? offset ?` →
    * `limit ?`; the rewrite `\blimit \?(?:\s*,\s*\?|\s+offset\s+\?)`. */
  private[slowlog] def collapseLimitPair(s: String): String =
    rewrite(s, "limit ?", "limit ?") { k =>
      val i = k + "limit ?".length
      val j = Scan.skipSpace(s, i)
      val afterOffset = j + "offset".length
      val q =
        if (j < s.length && s.charAt(j) == ',') Scan.skipSpace(s, j + 1)
        else if (j > i && s.startsWith("offset", j) &&
                 Scan.skipSpace(s, afterOffset) > afterOffset) Scan.skipSpace(s, afterOffset)
        else -1
      if (q >= 0 && q < s.length && s.charAt(q) == '?') q + 1 else -1
    }

  /** Replace, left to right and without overlap, every match that starts
    * with `word` at a word boundary and ends where `matchEnd(start)` says
    * (-1: no match there) — `Regex.replaceAllIn` for patterns that start
    * `\b` + a literal word. */
  private def rewrite(s: String, word: String, replacement: String)(
      matchEnd: Int => Int): String = {
    var out: java.lang.StringBuilder = null
    var copied = 0
    var k = s.indexOf(word)
    while (k >= 0) {
      val end = if (Scan.wordBefore(s, k)) -1 else matchEnd(k)
      if (end >= 0) {
        if (out == null) out = new java.lang.StringBuilder(s.length)
        out.append(s, copied, k).append(replacement)
        copied = end
        k = s.indexOf(word, end)
      } else k = s.indexOf(word, k + 1)
    }
    if (out == null) s else out.append(s, copied, s.length).toString
  }

  /** End of a placeholder row `\(\s*\?(?:\s*,\s*\?)*\s*\)` at `i`, or -1. */
  private def placeholdersEnd(s: String, i: Int): Int = {
    val n = s.length
    if (i >= n || s.charAt(i) != '(') return -1
    var j = Scan.skipSpace(s, i + 1)
    if (j >= n || s.charAt(j) != '?') return -1
    j += 1
    var more = true
    while (more) {
      val comma = Scan.skipSpace(s, j)
      val q = if (comma < n && s.charAt(comma) == ',') Scan.skipSpace(s, comma + 1) else n
      if (q < n && s.charAt(q) == '?') j = q + 1 else more = false
    }
    j = Scan.skipSpace(s, j)
    if (j < n && s.charAt(j) == ')') j + 1 else -1
  }

  /** End of `\s*` + a placeholder row + any number of `\s*,\s*` + row,
    * at `i`, or -1. */
  private def rowsEnd(s: String, i: Int): Int = {
    var end = placeholdersEnd(s, Scan.skipSpace(s, i))
    var more = end >= 0
    while (more) {
      val comma = Scan.skipSpace(s, end)
      val next =
        if (comma < s.length && s.charAt(comma) == ',')
          placeholdersEnd(s, Scan.skipSpace(s, comma + 1))
        else -1
      if (next >= 0) end = next else more = false
    }
    end
  }

  private def stripTrailingSemis(s: String): String = {
    var e = s.length
    while (e > 0 && (s.charAt(e - 1) == ';' || s.charAt(e - 1).isWhitespace)) e -= 1
    s.substring(0, e)
  }

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Digest id: the LAST 16 hex chars of the uppercase MD5 of the
    * fingerprint — pt-query-digest's `make_checksum` is
    * `uc substr(md5_hex($fp), -16)` and go-mysql's `query.Id` takes MD5
    * bytes 8..16, both the second half. (Round-2 correction: SURVEY.md
    * §2.1 R8's unverified `[U:]` reconstruction said "first 16".)
    * Column-level equivalent: `upper(substring(md5(fp), 17, 16))`. */
  def digestId(fp: String): String = {
    val md = md5Local.get()
    md.reset()
    md.digest(fp.getBytes("UTF-8"))
      .drop(8)
      .map(b => f"$b%02X")
      .mkString
  }

  /** [[fingerprint]] over Spark's internal string representation — the
    * entry point the codegen'd [[graft.functions.FingerprintExpr]]
    * calls (generated Java reaches it through this class's static
    * forwarder). Null passes through untouched. */
  def fingerprintUtf8(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    if (s == null) null
    else org.apache.spark.unsafe.types.UTF8String.fromString(fingerprint(s.toString))
}
