package graft.slowlog

import java.sql.Timestamp
import java.time.Instant
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The regexes the slow-log scanners replaced, kept verbatim as the
  * reference each scanner must agree with on every input. */
object SlowLogRegexes {
  val MetricPair = """(\w+):[ \t]*(?!\w+:)(\S+)""".r
  val IntVal = """[+-]?\d+""".r
  val FloatVal = """[+-]?\d*\.\d+(?:[eE][+-]?\d+)?""".r
  val UserHost =
    """^#\s+User@Host:\s*([^\[\s]*)(?:\[([^\]]*)\])?\s*@\s*([^\s\[]*)\s*(?:\[([^\]]*)\])?(?:.*?\bId:\s*(\d+))?\s*$""".r
  val SetTimestamp = """(?i)^\s*SET\s+timestamp\s*=\s*(\d+)\s*;?\s*$""".r
  val UseDb = """(?i)^\s*use\s+`?([\w$]+)`?\s*;?\s*$""".r
  val OldTime =
    """^#\s+Time:\s+(\d{6})\s+(\d{1,2}):(\d{2}):(\d{2})(?:\.(\d+))?\s*$""".r
  val InList = """\bin\s*\(\s*\?(?:\s*,\s*\?)*\s*\)""".r
  val ValuesList =
    """\bvalues?\s*\(\s*\?(?:\s*,\s*\?)*\s*\)(?:\s*,\s*\(\s*\?(?:\s*,\s*\?)*\s*\))*""".r
  val LimitClause = """\blimit \?(?:\s*,\s*\?|\s+offset\s+\?)""".r
}

/** Seeded fuzz of every hand scanner in [[SlowLogParser]] and
  * [[Fingerprint]] against its regex reference: 10⁵+ inputs each, built
  * from the tokens that decide each grammar plus non-ASCII letters, a
  * combining mark, surrogates, line separators, `\t` and `\u000B`. */
class SlowLogScannerSpec extends AnyFunSuite {
  import SlowLogRegexes._

  private val N = 100000

  /** `n` strings, each a concatenation of up to `maxTokens` tokens. */
  private def fuzz(seed: Long, n: Int, maxTokens: Int, tokens: IndexedSeq[String],
                   prefixes: IndexedSeq[String] = IndexedSeq("")): Iterator[String] = {
    val rnd = new Random(seed)
    Iterator.fill(n) {
      val sb = new StringBuilder(prefixes(rnd.nextInt(prefixes.size)))
      (0 until rnd.nextInt(maxTokens + 1)).foreach(_ => sb.append(tokens(rnd.nextInt(tokens.size))))
      sb.result()
    }
  }

  private val odd = IndexedSeq("é", "ß", "Ж", "\u0301", "😀", "\uD83D", "\uDE00",
    "\u00A0", "\u2028", "\u0085", "\t", "\u000B", "\f", "\n", "\r")

  private def groups(m: java.util.regex.Matcher, k: Int): Seq[String] =
    (1 to k).map(m.group)

  test("fuzz: metric pairs equal MetricPair.findAllMatchIn") {
    val tokens = IndexedSeq("Query_time", "Schema", "Last_errno", "a", "Z9", "_", ":", ":", " ",
      "  ", "1", "0.5", "-", "+", ".", "e", "Yes", "No", "#", "abc:def", "x:", "::") ++ odd
    fuzz(1L, 2 * N, 12, tokens, IndexedSeq("# ", "#", "")).foreach { line =>
      val want = MetricPair.findAllMatchIn(line).map(m => (m.group(1), m.group(2))).toList
      val m = new SlowLogParser.MetricScan(line)
      val got = List.newBuilder[(String, String)]
      while (m.next()) got += ((m.key, m.value))
      assert(got.result() == want, s"line: ${line.toSeq.map(_.toInt)}")
    }
  }

  test("fuzz: metric value kinds equal IntVal / FloatVal") {
    val tokens = IndexedSeq("0", "7", "12", "+", "-", ".", "e", "E", "x", " ", "٣") ++ odd.take(3)
    fuzz(2L, 2 * N, 8, tokens).foreach { v =>
      val padded = "ab" + v + "cd"
      val (from, until) = (2, 2 + v.length)
      assert(SlowLogParser.integral(padded, from, until) == IntVal.pattern.matcher(v).matches(), v)
      assert(SlowLogParser.decimal(padded, from, until) == FloatVal.pattern.matcher(v).matches(), v)
    }
  }

  test("fuzz: User@Host fields equal the UserHost groups") {
    val prefixes = IndexedSeq("# User@Host: ", "# User@Host: ", "# User@Host: ", "#User@Host: ",
      "#\tUser@Host:", "# User@Host:", "#  User@Host:\u000B", "# user@Host: ", "#\u000BUser@Host:\t")
    val tokens = IndexedSeq("app", "[app]", "[", "]", " @ ", "@", " ", "  ", "h1", "[10.0.0.1]",
      "[]", "Id:", "  Id: ", "Id: 42", "42", "99999999999999999999", "xId:", "_Id:", "éId:",
      "\u0301Id:", "a\u0301Id:", "junk", ".", "ü", "I", "d:") ++ odd
    var matched = 0
    fuzz(3L, 2 * N, 10, tokens, prefixes).foreach { line =>
      val m = UserHost.pattern.matcher(line)
      val want = if (m.matches()) { matched += 1; groups(m, 5) } else null
      val got = SlowLogParser.accountGroups(line)
      assert(Option(got).map(_.toSeq).orNull == want, s"line: ${line.toSeq.map(_.toInt)}")
    }
    assert(matched > N / 10, s"only $matched matching lines")
  }

  test("fuzz: SET timestamp / use lines equal the SetTimestamp / UseDb groups") {
    val prefixes = IndexedSeq("", " ", "\t", "\u000B", "\f", "\u00A0", "\u2003", "  ")
    val tokens = IndexedSeq("SET", "set", "SeT", "ſet", "use", "USE", "Use", "uSe", "x",
      " timestamp", " TIMESTAMP", "=", " = ", "12", " ", "\t", ";", " `db`", " db1", "`",
      "ſ", "K", "$", "\u000B", "SELECT", "UPDATE", "sett", "uses", "se", "us")
    fuzz(4L, N, 6, tokens, prefixes).foreach { line =>
      def ref(r: scala.util.matching.Regex): String = {
        val m = r.pattern.matcher(line)
        if (m.matches()) m.group(1) else null
      }
      assert(SlowLogParser.setTimestampArg(line) == ref(SetTimestamp), line)
      assert(SlowLogParser.useDbArg(line) == ref(UseDb), line)
    }
  }

  test("fuzz: canonical ISO # Time: values parse as Instant.parse does") {
    val rnd = new Random(5L)
    var accepted = 0
    (0 until 2 * N).foreach { _ =>
      def pad(x: Int, w: Int) = String.format(s"%0${w}d", Int.box(x))
      val year = if (rnd.nextInt(4) == 0) rnd.nextInt(10000) else 1960 + rnd.nextInt(150)
      val frac = rnd.nextInt(12) match {
        case 0 => ""
        case 1 => "."
        case k => "." + (1 to k - 1).map(_ => rnd.nextInt(10)).mkString
      }
      val zone = IndexedSeq("Z", "Z", "Z", "Z", "z", "+02:00", "", "Z ")(rnd.nextInt(8))
      val base = s"${pad(year, 4)}-${pad(rnd.nextInt(14), 2)}-${pad(rnd.nextInt(33), 2)}T" +
        s"${pad(rnd.nextInt(26), 2)}:${pad(rnd.nextInt(61), 2)}:${pad(rnd.nextInt(62), 2)}$frac$zone"
      val v = if (rnd.nextInt(20) != 0) base else {
        val i = rnd.nextInt(base.length)
        base.substring(0, i) + "-:TtZz.+0 ٣"(rnd.nextInt(11)) + base.substring(i + 1)
      }
      val got = SlowLogParser.canonicalIsoTs(v)
      if (got != null) {
        accepted += 1
        assert(got == Timestamp.from(Instant.parse(v)), v)
        assert(got.getNanos == Instant.parse(v).getNano, v)
        assert(!OldTime.pattern.matcher("# Time: " + v).matches(), v)
      }
    }
    assert(accepted > N / 5, s"only $accepted canonical values")
  }

  test("fuzz: IN / VALUES / LIMIT collapses equal their replaceAllIn") {
    val tokens = IndexedSeq("in", "IN", "value", "values", "limit ?", "limit", "offset", "(", ")",
      "?", "?", ",", " ", "x", "_", "1", "a\u0301", "min", "join", "`", "a",
      "in (?)", "in(?, ?)", "in (?", " (?)", "(?, ?)", ", ?", "?)", "s", "),(?)",
      "values (?),(?)", "value(?)", "limit ?, ?", "limit ? offset ?", " offset ?") ++ odd
    var changed = 0
    fuzz(6L, 2 * N, 14, tokens).foreach { s =>
      val in = Fingerprint.collapseInClauses(s)
      assert(in == InList.replaceAllIn(s, "in(?+)"), s"in: ${s.toSeq.map(_.toInt)}")
      assert(Fingerprint.collapseValuesRows(s) == ValuesList.replaceAllIn(s, "values(?+)"),
        s"values: ${s.toSeq.map(_.toInt)}")
      assert(Fingerprint.collapseLimitPair(s) == LimitClause.replaceAllIn(s, "limit ?"),
        s"limit: ${s.toSeq.map(_.toInt)}")
      if (in != s) changed += 1
    }
    assert(changed > N / 20, s"only $changed IN-list rewrites")
  }

  /** Line split, then a separate UTF-8 count per line: the splitter's
    * algorithm before its count moved into the split loop. */
  private def referenceLines(text: String): List[(Long, String)] = {
    def utf8Len(s: String, from: Int, until: Int): Long = {
      var i = from
      var n = 0L
      while (i < until) {
        val c = s.charAt(i)
        n += (if (c < 0x80) 1 else if (c < 0x800) 2
              else if (Character.isHighSurrogate(c)) { i += 1; 4 } else 3)
        i += 1
      }
      n
    }
    val out = List.newBuilder[(Long, String)]
    var pos = 0
    var off = 0L
    while (pos < text.length) {
      var i = pos
      while (i < text.length && text.charAt(i) != '\n' && text.charAt(i) != '\r') i += 1
      val term =
        if (i >= text.length) 0
        else if (text.charAt(i) == '\r' && i + 1 < text.length && text.charAt(i + 1) == '\n') 2
        else 1
      out += ((off, text.substring(pos, i)))
      off += utf8Len(text, pos, i) + term
      pos = i + term
    }
    out.result()
  }

  test("fuzz: line offsets equal the split-then-count reference") {
    val tokens = IndexedSeq("\n", "\r", "\r\n", "a", "# Time: x", "é", "€", "😀",
      "\uD83D", "\uDE00", "\u0085", " ")
    fuzz(7L, N, 12, tokens).foreach { text =>
      assert(SlowLogParser.linesWithOffsets(text).toList == referenceLines(text),
        s"text: ${text.toSeq.map(_.toInt)}")
    }
  }
}
