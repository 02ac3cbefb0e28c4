package graft.slowlog

import java.sql.Timestamp
import java.time.{Instant, LocalDateTime, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable

/**
 * Line-oriented state machine that turns a MySQL/Percona slow-query log
 * into [[SlowLogEvent]]s (SURVEY.md §2.1 R2–R6; format per public
 * MySQL/Percona documentation — the reference checkout is empty, so this
 * is built from the documented format, not ported code).
 *
 * Handled, single pass, O(1) memory per event:
 *  - both `# Time:` formats — old `yymmdd H:MM:SS` and ISO-8601
 *    (`2024-01-15T10:00:01.123456Z`, offset forms too);
 *  - `# User@Host: user[user] @ host [ip]  Id: N` (host falls back to the
 *    bracketed IP; `Id` becomes the `Thread_id` number metric);
 *  - generic `# Key: value` metric lines into three typed maps — values
 *    `Yes`/`No` → bool, integral → long, decimal → double; `Schema:` sets
 *    the event db; non-numeric strings (e.g. rate-limit annotations) are
 *    ignored;
 *  - `use db` session carry across events, `SET timestamp=N` override
 *    (wins over `# Time:`, second precision);
 *  - `# administrator command: X` → admin event;
 *  - multi-line statements (accumulated until the next header);
 *  - truncated tail at EOF (emitted if a statement was seen);
 *  - leading non-header banner junk (mysqld startup lines) skipped.
 *
 * Known line-level ambiguity, shared with any line-based slow-log parser:
 * a *line* inside a quoted SQL string that itself starts with `# ` is
 * indistinguishable from a header line.
 *
 * The lines every event carries — metric lines, `User@Host`, a canonical
 * ISO `# Time:` — are read by hand-written scanners (end of this object)
 * that return exactly what the regexes they replaced matched; those
 * regexes live on as references in `SlowLogScannerSpec`. Four regexes
 * remain, each on lines that are rare or pre-filtered: old-format and
 * non-canonical ISO `# Time:` values, the combined `Rate_limit:` shape
 * (only on lines containing `Rate_lim`), and `SET timestamp` / `use`
 * (only on lines outside a statement whose first word is `set` / `use`).
 */
object SlowLogParser {

  private val OldTime =
    """^#\s+Time:\s+(\d{6})\s+(\d{1,2}):(\d{2}):(\d{2})(?:\.(\d+))?\s*$""".r
  // Percona rate-limit annotation, combined shape: `# Rate_limit: query:100`
  // (type:limit in one token — the generic pair scanner would mis-read it
  // as a bogus `query: 100` number metric, so it is cut out first). The
  // two-key shape `Log_slow_rate_type: query  Log_slow_rate_limit: 100`
  // is dispatched by key in the generic scanner, like `Schema:`.
  private val RateCombined = """\bRate_limit:[ \t]*(\w+):(\d+)""".r
  // both case-insensitive with ASCII-only folding, so a line can match
  // only when its first word is set (resp. use) in some ASCII case,
  // followed by \s: see `leadsWith`
  private val SetTimestamp = """(?i)^\s*SET\s+timestamp\s*=\s*(\d+)\s*;?\s*$""".r
  private val UseDb = """(?i)^\s*use\s+`?([\w$]+)`?\s*;?\s*$""".r

  /** Parse a whole log text sequentially (reference semantics, incl. use-db
    * carry). Offsets are UTF-8 byte positions relative to `baseOffset`. */
  def parseString(text: String, baseOffset: Long = 0L): Vector[SlowLogEvent] =
    parseLines(linesWithOffsets(text, baseOffset)).toVector

  /** The session-carry state a log CHUNK hands to its successor: last
    * `use`/`# Schema:` db and last rate-limit annotation. This is what a
    * tailing reader keeps between reads of a rotated/growing log — the
    * streaming path persists it per logical stream in the state store
    * ([[graft.streaming.SlowLogStream.eventsWithSessionCarry]]). */
  final case class SessionCarry(db: String, rateType: String,
                                rateLimit: Long, headerSeen: Boolean)
  object SessionCarry {
    val empty: SessionCarry = SessionCarry(null, null, -1L, headerSeen = false)
  }

  /** [[parseString]] for one chunk of a LOGICAL stream: seeds the session
    * state from the previous chunk's hand-off and returns the state this
    * chunk ends with. Parsing chunk₁ then chunk₂ through this is
    * event-identical to parsing chunk₁ ++ chunk₂ in one pass (spec-proven)
    * — the property that makes cross-micro-batch `use db` carry exact. */
  def parseChunk(text: String,
                 initial: SessionCarry = SessionCarry.empty,
                 baseOffset: Long = 0L): (Vector[SlowLogEvent], SessionCarry) = {
    val it = new ParseIterator(linesWithOffsets(text, baseOffset), initial)
    val events = it.toVector
    (events, it.sessionCarry)
  }

  /** Lines of `text` paired with the UTF-8 byte offset of each line
    * start. Hand-rolled split handling \n, \r\n, and lone \r terminators
    * with true byte accounting (linesIterator + len+1 drifted one byte
    * per CRLF line, corrupting the resume offsets). */
  def linesWithOffsets(text: String, baseOffset: Long = 0L): Iterator[(Long, String)] =
    new Iterator[(Long, String)] {
      private var pos = 0
      private var off = baseOffset
      override def hasNext: Boolean = pos < text.length
      override def next(): (Long, String) = {
        val start = pos
        val startOff = off
        // one pass finds the terminator and counts the line's UTF-8
        // bytes: a high surrogate counts 4 with the char after it, unless
        // that char ends the line
        var i = pos
        var bytes = 0L
        while (i < text.length && !isTerminator(text.charAt(i))) {
          val c = text.charAt(i)
          bytes += (if (c < 0x80) 1
                    else if (c < 0x800) 2
                    else if (Character.isHighSurrogate(c)) {
                      if (i + 1 < text.length && !isTerminator(text.charAt(i + 1))) i += 1
                      4
                    }
                    else 3)
          i += 1
        }
        val line = text.substring(start, i)
        // consume the terminator: \r\n as one, else single \n or \r
        val termLen =
          if (i >= text.length) 0
          else if (text.charAt(i) == '\r' && i + 1 < text.length &&
                   text.charAt(i + 1) == '\n') 2
          else 1
        pos = i + termLen
        off = startOff + bytes + termLen
        (startOff, line)
      }
    }

  private def isTerminator(c: Char): Boolean = c == '\n' || c == '\r'

  /**
   * Streaming parse of (byteOffset, line) pairs. The returned iterator is
   * lazy: events are emitted as soon as their terminating boundary (next
   * header or EOF) is seen — this is what runs inside `mapPartitions`.
   */
  def parseLines(lines: Iterator[(Long, String)]): Iterator[SlowLogEvent] =
    new ParseIterator(lines, SessionCarry.empty)

  private final class ParseIterator(lines: Iterator[(Long, String)],
                                    initial: SessionCarry)
      extends Iterator[SlowLogEvent] {
      private var out: SlowLogEvent = _

      // session state, seeded from the previous chunk's hand-off (empty
      // for a standalone parse)
      private var sessionDb: String = initial.db
      // rate-limit annotations carry forward like `use db`: Percona
      // writes them where sampling starts, and they govern every event
      // logged after (pt-query-digest applies the same log-level carry)
      private var sessionRateType: String = initial.rateType
      private var sessionRateLimit = initial.rateLimit
      // banner-skipping only applies to the head of the logical STREAM,
      // not of each chunk: the carry records whether an earlier chunk
      // already saw a header (so a chunk starting mid-statement keeps
      // its lines instead of treating them as banner junk)
      private var seenHeader = initial.headerSeen

      /** The state to seed the NEXT chunk with — read after exhaustion. */
      def sessionCarry: SessionCarry =
        SessionCarry(sessionDb, sessionRateType, sessionRateLimit, seenHeader)

      // current-event state
      private var evOffset = -1L
      private var ts: Timestamp = _
      private var admin = false
      private var user: String = _
      private var host: String = _
      private var db: String = _
      private var rateType: String = _
      private var rateLimit = -1L
      private val query = new StringBuilder
      private var timeM = mutable.LinkedHashMap.empty[String, Double]
      private var numM = mutable.LinkedHashMap.empty[String, Long]
      private var boolM = mutable.LinkedHashMap.empty[String, Boolean]
      private var inQuery = false

      private def resetEvent(keepTs: Boolean): Unit = {
        evOffset = -1L
        if (!keepTs) ts = null
        admin = false; user = null; host = null; db = null
        rateType = null; rateLimit = -1L
        query.clear()
        timeM = mutable.LinkedHashMap.empty
        numM = mutable.LinkedHashMap.empty
        boolM = mutable.LinkedHashMap.empty
        inQuery = false
      }

      private def flush(keepTs: Boolean): Unit = {
        if (query.nonEmpty || admin) {
          var q = query.result().trim
          if (q.endsWith(";")) q = q.substring(0, q.length - 1).trim
          val effDb = if (db != null) db else sessionDb
          // Any explicit db (use OR # Schema:) becomes the session carry:
          // this makes sequential carry identical to the distributed
          // last-non-null window fill, by construction.
          if (db != null) sessionDb = db
          // rate annotations: same explicit-becomes-carry rule
          if (rateType != null) sessionRateType = rateType
          if (rateLimit >= 0) sessionRateLimit = rateLimit
          val effRateType = if (rateType != null) rateType else sessionRateType
          val effRateLimit = if (rateLimit >= 0) rateLimit else sessionRateLimit
          out = SlowLogEvent(evOffset, ts, admin, q, user, host, effDb,
            effRateType, if (effRateLimit >= 0) Some(effRateLimit) else None,
            timeM.toMap, numM.toMap, boolM.toMap)
        }
        resetEvent(keepTs)
      }

      /** `body` is the line after its `#`, trimmed. */
      private def handleHeaderish(off: Long, line: String, body: String): Unit = {
        seenHeader = true
        if (evOffset < 0) evOffset = off
        if (body.startsWith("administrator command:")) {
          admin = true
          var q = body
          if (q.endsWith(";")) q = q.substring(0, q.length - 1)
          query.clear(); query.append(q.trim)
          inQuery = true
        } else if (body.startsWith("Time:")) {
          val v = body.drop(5).trim
          // a canonical ISO value can never match OldTime (its 5th char
          // is '-', OldTime's is a digit), so taking it first is exact
          val iso = canonicalIsoTs(v)
          if (iso != null) ts = iso
          else line match {
            case OldTime(ymd, h, m, s, frac) =>
              val yy = ymd.substring(0, 2).toInt
              val year = if (yy < 70) 2000 + yy else 1900 + yy
              val ldt = LocalDateTime.of(year, ymd.substring(2, 4).toInt,
                ymd.substring(4, 6).toInt, h.toInt, m.toInt, s.toInt,
                if (frac == null) 0 else (frac.padTo(9, '0').take(9)).toInt)
              ts = Timestamp.from(ldt.toInstant(ZoneOffset.UTC))
            case _ =>
              ts = parseIsoTs(v).orNull
          }
        } else if (body.startsWith("User@Host:")) {
          val g = accountGroups(line)
          if (g != null) {
            user = if (g(0).nonEmpty) g(0) else g(1)
            host = if (g(2).nonEmpty) g(2) else g(3)
            if (g(4) != null)
              try numM("Thread_id") = g(4).toLong
              catch { case _: NumberFormatException => () }
          }
        } else {
          // generic metrics line (toLong/toDouble guarded: a corrupt or
          // adversarial log line must skip a metric, not kill the task).
          // Schema and the rate annotations are dispatched on the KEY,
          // before value-shape typing — a digits-only database name
          // (`Schema: 2024`, legal in MySQL) must set the db, not become
          // a number metric, and `Log_slow_rate_limit: 100` must become
          // the typed rate field, not an anonymous metric.
          // substring pre-check so the regex never runs on the ~all
          // metric lines that carry no rate annotation (hot parse path)
          val scanLine = if (!line.contains("Rate_lim")) line
          else RateCombined.findFirstMatchIn(line) match {
            case Some(m) => // `Rate_limit: query:100` — typed, then cut
              rateType = m.group(1)
              try rateLimit = m.group(2).toLong
              catch { case _: NumberFormatException => () }
              line.substring(0, m.start) + line.substring(m.end)
            case None => line
          }
          // a value is never empty, so Schema and the rate type need
          // no emptiness test
          val m = new MetricScan(scanLine)
          while (m.next()) {
            val k = m.key
            val vs = m.valueStart; val ve = m.valueEnd
            if (k == "Schema") db = m.value
            else if (k == "Log_slow_rate_type") rateType = m.value
            else if (k == "Log_slow_rate_limit") {
              try rateLimit = java.lang.Long.parseLong(scanLine, vs, ve, 10)
              catch { case _: NumberFormatException => () }
            }
            else if (ve - vs == 3 && scanLine.startsWith("Yes", vs)) boolM(k) = true
            else if (ve - vs == 2 && scanLine.startsWith("No", vs)) boolM(k) = false
            else if (integral(scanLine, vs, ve))
              try numM(k) = java.lang.Long.parseLong(scanLine, vs, ve, 10)
              catch { case _: NumberFormatException => () }
            else if (decimal(scanLine, vs, ve))
              try timeM(k) = m.value.toDouble
              catch { case _: NumberFormatException => () }
          }
        }
      }

      private def processLine(off: Long, rawLine: String): Unit = {
        val line = rawLine.stripLineEnd
        val isHeader = line.startsWith("#")
        if (isHeader) {
          val body = line.drop(1).trim
          val startsNew = body.startsWith("Time:") ||
            (inQuery && !body.isEmpty)
          if (startsNew && (query.nonEmpty || admin)) {
            val keepTs = !body.startsWith("Time:")
            flush(keepTs)
          } else if (body.startsWith("Time:") && !inQuery) {
            // Time header while still assembling headers: reset partial state
            // (two Time lines in a row = empty event, silently dropped).
            resetEvent(keepTs = false)
          }
          handleHeaderish(off, line, body)
        } else if (!seenHeader) {
          // mysqld startup banner / column captions before the first header
          ()
        } else {
          val epoch = if (inQuery) null else setTimestampArg(line)
          val use = if (inQuery || epoch != null) null else useDbArg(line)
          if (epoch != null) {
            if (evOffset < 0) evOffset = off
            try ts = new Timestamp(epoch.toLong * 1000L)
            catch { case _: NumberFormatException => () }
          } else if (use != null) {
            if (evOffset < 0) evOffset = off
            db = use; sessionDb = use
          } else if (line.trim.nonEmpty || inQuery) {
            if (evOffset < 0) evOffset = off
            inQuery = true
            if (query.nonEmpty) query.append('\n')
            query.append(line)
          }
        }
      }

      private def advance(): Unit = {
        while (out == null && lines.hasNext) {
          val (off, line) = lines.next()
          processLine(off, line)
        }
        if (out == null && !lines.hasNext && (query.nonEmpty || admin))
          flush(keepTs = false) // truncated tail at EOF
      }

      override def hasNext: Boolean = {
        if (out == null) advance()
        out != null
      }

      override def next(): SlowLogEvent = {
        if (!hasNext) throw new NoSuchElementException("end of log")
        val e = out; out = null; e
      }
    }

  /**
   * Carry-ONLY scan of a chunk: the [[SessionCarry]] that
   * [[parseChunk]] would return, at a fraction of its cost — no query
   * assembly, no timestamp parsing, no metric-map building, and the
   * metric regex runs only on lines that can possibly carry a
   * Schema/rate key (a `contains` pre-filter skips it on the hot
   * metric lines). This is the phase-1 pass of the distributed
   * session-carry resolution ([[SlowLogSource.readRaw]]): per input
   * split, the carry-out feeds the NEXT split's seed, which is what
   * lets the full parse run carry-resolved in one pass with no
   * full-width exchange.
   *
   * Equivalence with the real parser's carry transitions is
   * spec-enforced property-style (`scanCarry ≡ parseChunk._2` on the
   * golden fixtures AND the generated re-chunking corpus) — the state
   * machine below mirrors `processLine`/`flush` line-for-line on the
   * carry-relevant branches, including the subtle ones: `use` updates
   * the session IMMEDIATELY at its line, `# Schema:` only when its
   * event FLUSHES (an event with no query text never flushes and its
   * Schema never becomes carry), and rate annotations follow the
   * flush rule like Schema.
   */
  def scanCarry(text: String,
                initial: SessionCarry = SessionCarry.empty): SessionCarry = {
    var sessionDb = initial.db
    var sessionRateType = initial.rateType
    var sessionRateLimit = initial.rateLimit
    var seenHeader = initial.headerSeen
    // per-event carry-relevant state (the flush/reset twins)
    var admin = false
    var hasQuery = false
    var db: String = null
    var rateType: String = null
    var rateLimit = -1L
    var inQuery = false
    def resetEvent(): Unit = {
      admin = false; hasQuery = false; db = null
      rateType = null; rateLimit = -1L; inQuery = false
    }
    def flushCarry(): Unit = {
      if (hasQuery || admin) {
        if (db != null) sessionDb = db
        if (rateType != null) sessionRateType = rateType
        if (rateLimit >= 0) sessionRateLimit = rateLimit
      }
      resetEvent()
    }
    val lines = linesWithOffsets(text, 0L)
    while (lines.hasNext) {
      val line = lines.next()._2.stripLineEnd
      if (line.startsWith("#")) {
        val body = line.drop(1).trim
        val startsNew = body.startsWith("Time:") || (inQuery && body.nonEmpty)
        if (startsNew && (hasQuery || admin)) flushCarry()
        else if (body.startsWith("Time:") && !inQuery) resetEvent()
        seenHeader = true
        if (body.startsWith("administrator command:")) {
          admin = true; hasQuery = true; inQuery = true
        } else if (!body.startsWith("Time:") &&
                   !body.startsWith("User@Host:")) {
          // metric line — only the Schema/rate keys matter for carry;
          // skip the regex entirely when none can be present
          val scanLine = if (!line.contains("Rate_lim")) line
          else RateCombined.findFirstMatchIn(line) match {
            case Some(m) =>
              rateType = m.group(1)
              try rateLimit = m.group(2).toLong
              catch { case _: NumberFormatException => () }
              line.substring(0, m.start) + line.substring(m.end)
            case None => line
          }
          if (scanLine.contains("Schema") ||
              scanLine.contains("Log_slow_rate")) {
            val m = new MetricScan(scanLine)
            while (m.next()) {
              val k = m.key
              if (k == "Schema") db = m.value
              else if (k == "Log_slow_rate_type") rateType = m.value
              else if (k == "Log_slow_rate_limit") {
                try rateLimit = java.lang.Long.parseLong(scanLine, m.valueStart, m.valueEnd, 10)
                catch { case _: NumberFormatException => () }
              }
            }
          }
        }
      } else if (seenHeader) {
        val isSetTs = !inQuery && setTimestampArg(line) != null
        val use = if (inQuery || isSetTs) null else useDbArg(line)
        if (use != null) { db = use; sessionDb = use }
        else if (!isSetTs && (line.trim.nonEmpty || inQuery)) {
          inQuery = true; hasQuery = true
        }
      }
    }
    if (hasQuery || admin) flushCarry()
    SessionCarry(sessionDb, sessionRateType, sessionRateLimit, seenHeader)
  }

  private val IsoLocal = DateTimeFormatter.ISO_LOCAL_DATE_TIME

  private def parseIsoTs(v: String): Option[Timestamp] = {
    def attempt[A](f: => A): Option[A] =
      try Some(f) catch { case _: Exception => None }
    attempt(Timestamp.from(Instant.parse(v)))
      .orElse(attempt(Timestamp.from(OffsetDateTime.parse(v).toInstant)))
      .orElse(attempt(Timestamp.from(
        LocalDateTime.parse(v, IsoLocal).toInstant(ZoneOffset.UTC))))
  }

  // -- hand scanners ---------------------------------------------------
  // Each returns exactly what the regex it replaced returned (the regexes
  // live on in SlowLogScannerSpec, which fuzzes every scanner against its
  // own); they exist because those regexes cost a quarter of ingest CPU.

  /** Left-to-right cursor over the `Key: value` pairs of a metric line.
    * A key is a run of `\w` followed by `:`; its value is the run of
    * non-`\s` chars after optional spaces/tabs, and the next search
    * starts at the value's end. A value that itself starts with
    * `word:` is the next key, not a value: an empty `# Schema:` must not
    * swallow `Last_errno:`, and `Key: abc:def` yields `abc` = `def`. */
  private[slowlog] final class MetricScan(s: String) {
    var keyStart, keyEnd, valueStart, valueEnd = 0
    private var pos = 0

    def key: String = s.substring(keyStart, keyEnd)
    def value: String = s.substring(valueStart, valueEnd)

    /** Advance to the next pair; false when the line has no more. */
    def next(): Boolean = {
      val n = s.length
      var i = pos
      while (i < n) {
        if (!Scan.isWord(s.charAt(i))) i += 1
        else {
          // a match can start anywhere in this run, but every start ends
          // at the same `e`, so all of them succeed or fail together
          val e = wordEnd(i)
          if (e < n && s.charAt(e) == ':') {
            var r = e + 1
            while (r < n && (s.charAt(r) == ' ' || s.charAt(r) == '\t')) r += 1
            if (r < n && !Scan.isSpace(s.charAt(r)) && !keyAt(r)) {
              var ve = r + 1
              while (ve < n && !Scan.isSpace(s.charAt(ve))) ve += 1
              keyStart = i; keyEnd = e; valueStart = r; valueEnd = ve
              pos = ve
              return true
            }
          }
          i = e
        }
      }
      pos = n
      false
    }

    private def wordEnd(i: Int): Int = {
      var e = i
      while (e < s.length && Scan.isWord(s.charAt(e))) e += 1
      e
    }

    private def keyAt(i: Int): Boolean = {
      val e = wordEnd(i)
      e > i && e < s.length && s.charAt(e) == ':'
    }
  }

  private def digitsEnd(s: String, i: Int, until: Int): Int = {
    var j = i
    while (j < until && Scan.isDigit(s.charAt(j))) j += 1
    j
  }

  private def signEnd(s: String, i: Int, until: Int): Int =
    if (i < until && (s.charAt(i) == '+' || s.charAt(i) == '-')) i + 1 else i

  /** `s[from, until)` is an integer metric value: `[+-]?\d+`. */
  private[slowlog] def integral(s: String, from: Int, until: Int): Boolean = {
    val i = signEnd(s, from, until)
    i < until && digitsEnd(s, i, until) == until
  }

  /** `s[from, until)` is a decimal metric value:
    * `[+-]?\d*\.\d+` with an optional `[eE][+-]?\d+` exponent. */
  private[slowlog] def decimal(s: String, from: Int, until: Int): Boolean = {
    val dot = digitsEnd(s, signEnd(s, from, until), until)
    if (dot >= until || s.charAt(dot) != '.') return false
    val f = digitsEnd(s, dot + 1, until)
    if (f == dot + 1) false
    else if (f == until) true
    else if (s.charAt(f) != 'e' && s.charAt(f) != 'E') false
    else {
      val x = signEnd(s, f + 1, until)
      val e = digitsEnd(s, x, until)
      e > x && e == until
    }
  }

  /** The five fields of a `# User@Host: user[user] @ host [ip]  Id: N`
    * line — user, bracketed user, host, bracketed IP, `Id` digits; the
    * brackets and `Id` may be absent (null) — or null when the whole line
    * does not fit that grammar (trailing junk after `Id: N` included).
    * Ambiguous lines resolve as a backtracking matcher trying the longest
    * user token, then the longest host token, first would: `u@h` is user
    * `u`, host `h`. */
  private[slowlog] def accountGroups(line: String): Array[String] = {
    val n = line.length
    if (n == 0 || line.charAt(0) != '#') return null
    val u = Scan.skipSpace(line, 1)
    if (u == 1 || !line.startsWith("User@Host:", u)) return null
    val tail = new IdTail(line)
    val a = Scan.skipSpace(line, u + "User@Host:".length)
    var userEnd = a
    while (userEnd < n && !Scan.isSpace(line.charAt(userEnd)) &&
           line.charAt(userEnd) != '[') userEnd += 1
    var g: Array[String] = null
    if (userEnd < n && line.charAt(userEnd) == '[') {
      val close = line.indexOf(']', userEnd + 1)
      if (close >= 0) {
        g = afterUser(line, close + 1, tail)
        if (g != null) g(1) = line.substring(userEnd + 1, close)
      }
    }
    if (g == null) g = afterUser(line, userEnd, tail)
    // a shorter user token must be followed by `@` directly
    while (g == null && userEnd > a) {
      userEnd = line.lastIndexOf('@', userEnd - 1)
      if (userEnd < a) return null
      g = afterUser(line, userEnd, tail)
    }
    if (g != null) g(0) = line.substring(a, userEnd)
    g
  }

  /** Fields 3–5 of [[accountGroups]] for a line whose user part ends at
    * `from`, or null. */
  private def afterUser(line: String, from: Int, tail: IdTail): Array[String] = {
    val n = line.length
    val at = Scan.skipSpace(line, from)
    if (at >= n || line.charAt(at) != '@') return null
    val h = Scan.skipSpace(line, at + 1)
    var hostEnd = h
    while (hostEnd < n && !Scan.isSpace(line.charAt(hostEnd)) &&
           line.charAt(hostEnd) != '[') hostEnd += 1
    val g = new Array[String](5)
    val b = Scan.skipSpace(line, hostEnd)
    if (b < n && line.charAt(b) == '[') {
      val close = line.indexOf(']', b + 1)
      if (close >= 0 && tail.accepts(close + 1)) {
        g(2) = line.substring(h, hostEnd)
        g(3) = line.substring(b + 1, close)
        g(4) = tail.id(close + 1)
        return g
      }
    }
    if (tail.accepts(b)) {
      g(2) = line.substring(h, hostEnd)
      g(4) = tail.id(b)
      return g
    }
    // a shorter host token is followed by neither spaces nor a bracket,
    // so only an `Id:` tail can accept; the longest such token ends at
    // the `Id:` itself or one code point short of the full token
    if (hostEnd > h && tail.idAt >= 0) {
      val end =
        if (tail.idAt < hostEnd) tail.idAt
        else hostEnd - Character.charCount(Character.codePointBefore(line, hostEnd))
      if (end >= h && tail.idFrom(end)) {
        g(2) = line.substring(h, end)
        g(4) = tail.digits
        return g
      }
    }
    null
  }

  /** What may follow the host part of a User@Host line: only `\s` to
    * the end, or anything without a line break up to an `Id: N` (a
    * word-boundary `Id:`, `\s`, digits, `\s`) that ends the line. Such an
    * `Id:` can start at one index only, found once per line from the end. */
  private final class IdTail(line: String) {
    /** Start of the line's trailing `\s` run. */
    private val spaceFrom: Int = {
      var i = line.length
      while (i > 0 && Scan.isSpace(line.charAt(i - 1))) i -= 1
      i
    }
    private val digitsFrom: Int = {
      var i = spaceFrom
      while (i > 0 && Scan.isDigit(line.charAt(i - 1))) i -= 1
      i
    }
    /** Index of the closing `Id:`, or -1. */
    val idAt: Int =
      if (digitsFrom == spaceFrom) -1
      else {
        var i = digitsFrom
        while (i > 0 && Scan.isSpace(line.charAt(i - 1))) i -= 1
        if (i >= 3 && line.startsWith("Id:", i - 3) && !Scan.wordBefore(line, i - 3)) i - 3
        else -1
      }
    /** Last line terminator (which `.` does not match) before `idAt`. */
    private val lastBreak: Int = {
      var i = idAt - 1
      while (i >= 0 && !isLineBreak(line.charAt(i))) i -= 1
      i
    }
    def digits: String = line.substring(digitsFrom, spaceFrom)
    /** The `Id:` tail is reachable from index `x`. */
    def idFrom(x: Int): Boolean = idAt >= 0 && x <= idAt && lastBreak < x
    def accepts(x: Int): Boolean = idFrom(x) || x >= spaceFrom
    /** The `Id` digits when the tail from `x` includes them, else null. */
    def id(x: Int): String = if (idFrom(x)) digits else null
  }

  private def isLineBreak(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** The first non-`\s` chars of `line` are `word` (lower-case ASCII
    * letters) in any ASCII case, followed by `\s`. */
  private def leadsWith(line: String, word: String): Boolean = {
    val i = Scan.skipSpace(line, 0)
    val end = i + word.length
    end < line.length && Scan.isSpace(line.charAt(end)) && {
      var k = 0
      while (k < word.length && (line.charAt(i + k) | 0x20) == word.charAt(k)) k += 1
      k == word.length
    }
  }

  private def group1(r: scala.util.matching.Regex, line: String): String = {
    val m = r.pattern.matcher(line)
    if (m.matches()) m.group(1) else null
  }

  /** The epoch of a `SET timestamp=N` line, or null. */
  private[slowlog] def setTimestampArg(line: String): String =
    if (leadsWith(line, "set")) group1(SetTimestamp, line) else null

  /** The database of a `use db` line, or null. */
  private[slowlog] def useDbArg(line: String): String =
    if (leadsWith(line, "use")) group1(UseDb, line) else null

  /** A `# Time:` value in the canonical `yyyy-MM-ddTHH:mm:ss[.f]Z` shape
    * (1–9 fraction digits, upper-case `T` and `Z`, a valid date and time
    * of day), as the timestamp `Instant.parse` gives it; null for any
    * other text, which [[parseIsoTs]] then reads. */
  private[slowlog] def canonicalIsoTs(v: String): Timestamp = {
    val n = v.length
    if (n != 20 && (n < 22 || n > 30 || v.charAt(19) != '.')) return null
    if (v.charAt(4) != '-' || v.charAt(7) != '-' || v.charAt(10) != 'T' ||
        v.charAt(13) != ':' || v.charAt(16) != ':' || v.charAt(n - 1) != 'Z') return null
    val year = number(v, 0, 4); val month = number(v, 5, 7); val day = number(v, 8, 10)
    val hour = number(v, 11, 13); val min = number(v, 14, 16); val sec = number(v, 17, 19)
    val frac = if (n == 20) 0 else number(v, 20, n - 1)
    if (year < 0 || month < 1 || month > 12 || day < 1 || day > monthLength(year, month) ||
        hour < 0 || hour > 23 || min < 0 || min > 59 || sec < 0 || sec > 59 || frac < 0)
      return null
    var nanos = frac
    var digits = n - 21
    while (digits < 9) { nanos *= 10; digits += 1 }
    Timestamp.from(Instant.ofEpochSecond(
      epochDay(year, month, day) * 86400L + hour * 3600 + min * 60 + sec, nanos))
  }

  /** The decimal number `v[from, until)`, or -1 if a char is not a digit. */
  private def number(v: String, from: Int, until: Int): Int = {
    var x = 0
    var i = from
    while (i < until) {
      val c = v.charAt(i)
      if (!Scan.isDigit(c)) return -1
      x = x * 10 + (c - '0')
      i += 1
    }
    x
  }

  private def monthLength(year: Int, month: Int): Int = month match {
    case 2 => if ((year % 4 == 0 && year % 100 != 0) || year % 400 == 0) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** Days since 1970-01-01 of a proleptic Gregorian date, year >= 0. */
  private def epochDay(year: Int, month: Int, day: Int): Long = {
    val y = if (month <= 2) year - 1 else year
    val era = (if (y >= 0) y else y - 399) / 400
    val yoe = y - era * 400
    val doy = (153 * (if (month > 2) month - 3 else month + 9) + 2) / 5 + day - 1
    era * 146097L + yoe * 365 + yoe / 4 - yoe / 100 + doy - 719468
  }
}
