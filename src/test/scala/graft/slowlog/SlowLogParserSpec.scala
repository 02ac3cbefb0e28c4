package graft.slowlog

import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Golden-file tests for the slow-log state machine (SURVEY.md §5.2 item 2,
  * FIXTURES.md §B), plus the re-chunking conservation property that the
  * distributed record-delimiter reader relies on. */
class SlowLogParserSpec extends AnyFunSuite {

  private def epochTs(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  val slow001: String = SlowLogFixtures.slow001

  test("slow001: three events with full field extraction") {
    val evs = SlowLogParser.parseString(slow001)
    assert(evs.size == 3)

    val e1 = evs(0)
    assert(e1.offset == 0L)
    assert(e1.ts == epochTs(1705312801L)) // SET timestamp wins
    assert(!e1.admin)
    assert(e1.user == "appuser")
    assert(e1.host == "web01")
    assert(e1.db == "orders_db")
    assert(e1.query ==
      "SELECT o_orderkey, o_totalprice FROM orders\nWHERE o_custkey IN (1, 2, 3) AND o_orderstatus = 'F'")
    assert(e1.timeMetrics == Map("Query_time" -> 0.003218, "Lock_time" -> 0.000087))
    assert(e1.numberMetrics == Map("Thread_id" -> 42L, "Rows_sent" -> 10L, "Rows_examined" -> 1000L))
    assert(e1.boolMetrics.isEmpty)

    val e2 = evs(1)
    assert(e2.ts == epochTs(1705312802L))
    assert(e2.db == "orders_db") // Schema: header
    assert(e2.query == "INSERT INTO audit (a, b) VALUES (1, 'x'), (2, 'y')")
    assert(e2.timeMetrics("Query_time") == 1.5)
    assert(e2.timeMetrics("InnoDB_IO_r_wait") == 0.5)
    assert(e2.timeMetrics("InnoDB_rec_lock_wait") == 0.0)
    assert(e2.numberMetrics("Rows_examined") == 500000L)
    assert(e2.numberMetrics("Merge_passes") == 0L)
    assert(e2.numberMetrics("InnoDB_IO_r_bytes") == 1638400L)
    assert(e2.numberMetrics("InnoDB_pages_distinct") == 64L)
    assert(e2.boolMetrics == Map(
      "QC_hit" -> false, "Full_scan" -> true, "Full_join" -> false,
      "Tmp_table" -> true, "Tmp_table_on_disk" -> false,
      "Filesort" -> true, "Filesort_on_disk" -> false))

    val e3 = evs(2)
    assert(e3.admin)
    assert(e3.query == "administrator command: Quit")
    assert(e3.user == "root")
    assert(e3.host == "localhost")
    assert(e3.ts == epochTs(1705312803L))
    assert(e3.db == "orders_db") // session carry from event 1's use
  }

  test("slow001: fingerprints and digests match FIXTURES.md goldens") {
    val evs = SlowLogParser.parseString(slow001)
    val fp1 = Fingerprint.fingerprint(evs(0).query)
    val fp2 = Fingerprint.fingerprint(evs(1).query)
    assert(fp1 == "select o_orderkey, o_totalprice from orders where o_custkey in(?+) and o_orderstatus = ?")
    assert(fp2 == "insert into audit (a, b) values(?+)")
    assert(Fingerprint.digestId(fp1).matches("[0-9A-F]{16}"))
  }

  test("old # Time: format, host from IP bracket, ts from Time line") {
    val log =
      """# Time: 240115 10:00:01
        |# User@Host: bob[bob] @  [192.168.1.1]
        |# Query_time: 0.100000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |SELECT 1;
        |""".stripMargin
    val evs = SlowLogParser.parseString(log)
    assert(evs.size == 1)
    val e = evs.head
    assert(e.user == "bob")
    assert(e.host == "192.168.1.1")
    // 2024-01-15T10:00:01Z == 1705312801
    assert(e.ts == epochTs(1705312801L))
    assert(e.query == "SELECT 1")
  }

  test("consecutive events sharing one # Time: header (same second)") {
    val log =
      """# Time: 2024-01-15T10:00:01.000000Z
        |# User@Host: a[a] @ h []
        |# Query_time: 0.010000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |SELECT 1;
        |# User@Host: b[b] @ h []
        |# Query_time: 0.020000  Lock_time: 0.000000 Rows_sent: 2  Rows_examined: 2
        |SELECT 2;
        |""".stripMargin
    val evs = SlowLogParser.parseString(log)
    assert(evs.size == 2)
    assert(evs(0).user == "a" && evs(1).user == "b")
    // second event inherits the shared Time header
    assert(evs(1).ts == epochTs(1705312801L))
    assert(evs(1).query == "SELECT 2")
  }

  test("query split across >2 lines, string containing ; and #") {
    val log =
      """# Time: 2024-01-15T10:00:01.000000Z
        |# User@Host: a[a] @ h []
        |# Query_time: 0.010000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |SELECT a,
        |       b,
        |       c
        |FROM t
        |WHERE s = 'x; y # z'
        |  AND d = 1;
        |""".stripMargin
    val evs = SlowLogParser.parseString(log)
    assert(evs.size == 1)
    assert(evs.head.query.count(_ == '\n') == 5)
    assert(evs.head.query.contains("'x; y # z'"))
  }

  test("truncated event at EOF is emitted") {
    val log =
      """# Time: 2024-01-15T10:00:01.000000Z
        |# User@Host: a[a] @ h []
        |# Query_time: 0.010000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |SELECT a FROM t WHERE""".stripMargin // no terminator, mid-statement
    val evs = SlowLogParser.parseString(log)
    assert(evs.size == 1)
    assert(evs.head.query == "SELECT a FROM t WHERE")
  }

  test("mysqld startup banner before first header is skipped") {
    val log =
      """/usr/sbin/mysqld, Version: 8.0.36 (MySQL Community Server - GPL). started with:
        |Tcp port: 3306  Unix socket: /var/run/mysqld/mysqld.sock
        |Time                 Id Command    Argument
        |# Time: 2024-01-15T10:00:01.000000Z
        |# User@Host: a[a] @ h []
        |# Query_time: 0.010000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |SELECT 1;
        |""".stripMargin
    val evs = SlowLogParser.parseString(log)
    assert(evs.size == 1)
    assert(evs.head.query == "SELECT 1")
  }

  test("rate annotations become typed fields, never mis-typed metrics") {
    val log =
      """# Time: 2024-01-15T10:00:01.000000Z
        |# User@Host: a[a] @ h []
        |# Query_time: 0.010000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |# Log_slow_rate_type: query  Log_slow_rate_limit: 100
        |SELECT 1;
        |""".stripMargin
    val evs = SlowLogParser.parseString(log)
    assert(evs.size == 1)
    val e = evs.head
    assert(e.rateType == "query")
    assert(e.rateLimit.contains(100L))
    // typed dispatch, not anonymous metrics
    assert(!e.numberMetrics.contains("Log_slow_rate_limit"))
    assert(!e.timeMetrics.contains("Log_slow_rate_type"))
    assert(!e.numberMetrics.contains("Log_slow_rate_type"))
  }

  test("combined Rate_limit shape parses and never leaks a bogus metric") {
    // `Rate_limit: query:100` — the generic pair scanner would read the
    // tail as `query: 100`; the typed cut-out must prevent that
    val log =
      """# Time: 2024-01-15T10:00:01.000000Z
        |# User@Host: a[a] @ h []
        |# Query_time: 0.010000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |# Rate_limit: query:100  Last_errno: 0
        |SELECT 1;
        |""".stripMargin
    val e = SlowLogParser.parseString(log).head
    assert(e.rateType == "query")
    assert(e.rateLimit.contains(100L))
    assert(!e.numberMetrics.contains("query"))
    assert(e.numberMetrics("Last_errno") == 0L) // rest of the line survives
  }

  test("rate annotations carry forward and an explicit 1 resets them") {
    val log =
      """# Time: 2024-01-15T10:00:01.000000Z
        |# User@Host: a[a] @ h []
        |# Query_time: 0.010000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |# Log_slow_rate_type: session  Log_slow_rate_limit: 50
        |SELECT 1;
        |# Time: 2024-01-15T10:00:02.000000Z
        |# User@Host: a[a] @ h []
        |# Query_time: 0.020000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |SELECT 2;
        |# Time: 2024-01-15T10:00:03.000000Z
        |# User@Host: a[a] @ h []
        |# Query_time: 0.030000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |# Log_slow_rate_limit: 1
        |SELECT 3;
        |""".stripMargin
    val evs = SlowLogParser.parseString(log)
    assert(evs.size == 3)
    assert(evs(0).rateType == "session" && evs(0).rateLimit.contains(50L))
    // carry: the un-annotated middle event inherits the session rate
    assert(evs(1).rateType == "session" && evs(1).rateLimit.contains(50L))
    // explicit rate_limit=1 (sampling off) RESETS the carried 50
    assert(evs(2).rateLimit.contains(1L))
  }

  test("use-db carry: later events without explicit db inherit it") {
    val log =
      """# Time: 2024-01-15T10:00:01.000000Z
        |# User@Host: a[a] @ h []
        |# Query_time: 0.010000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |use db1;
        |SELECT 1;
        |# Time: 2024-01-15T10:00:02.000000Z
        |# User@Host: a[a] @ h []
        |# Query_time: 0.010000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |SELECT 2;
        |# Time: 2024-01-15T10:00:03.000000Z
        |# User@Host: a[a] @ h []
        |# Query_time: 0.010000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |use db2;
        |SELECT 3;
        |""".stripMargin
    val evs = SlowLogParser.parseString(log)
    assert(evs.map(_.db) == Vector("db1", "db1", "db2"))
  }

  test("offsets are byte positions of each event's first header line") {
    val evs = SlowLogParser.parseString(slow001)
    val text = slow001
    assert(evs(0).offset == 0L)
    assert(text.substring(evs(1).offset.toInt).startsWith("# Time: 2024-01-15T10:00:02"))
    assert(text.substring(evs(2).offset.toInt).startsWith("# Time: 2024-01-15T10:00:03"))
  }

  test("empty Schema value does not swallow the next metric key") {
    val log =
      """# Time: 2024-01-15T10:00:01.000000Z
        |# User@Host: a[a] @ h []
        |# Query_time: 0.010000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |# Thread_id: 10 Schema:  Last_errno: 3  Killed: 0
        |SELECT 1;
        |""".stripMargin
    val e = SlowLogParser.parseString(log).head
    assert(e.db == null) // empty Schema = no default db
    assert(e.numberMetrics("Last_errno") == 3L)
    assert(e.numberMetrics("Killed") == 0L)
    assert(e.numberMetrics("Thread_id") == 10L)
  }

  test("lone-\\r (legacy Mac) line terminators parse like \\n") {
    val lf =
      """# Time: 2024-01-15T10:00:01.000000Z
        |# User@Host: a[a] @ h []
        |# Query_time: 0.010000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |SELECT 1;
        |""".stripMargin
    val evs = SlowLogParser.parseString(lf.replace("\n", "\r"))
    assert(evs.size == 1)
    assert(evs.head.query == "SELECT 1")
  }

  test("CRLF log: parsing works and offsets count the 2-byte terminators") {
    val lf =
      """# Time: 2024-01-15T10:00:01.000000Z
        |# User@Host: a[a] @ h []
        |# Query_time: 0.010000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |SELECT 1;
        |# Time: 2024-01-15T10:00:02.000000Z
        |# User@Host: a[a] @ h []
        |# Query_time: 0.010000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |SELECT 2;
        |""".stripMargin
    val crlf = lf.replace("\n", "\r\n")
    val evs = SlowLogParser.parseString(crlf)
    assert(evs.size == 2)
    assert(evs.map(_.query) == Vector("SELECT 1", "SELECT 2"))
    // second event's offset points at its # Time: line in BYTES (CRLF=2)
    val bytes = crlf.getBytes("UTF-8")
    val at = new String(bytes, evs(1).offset.toInt,
      math.min(8, bytes.length - evs(1).offset.toInt), "UTF-8")
    assert(at == "# Time: ", s"offset ${evs(1).offset} points at '$at'")
  }

  test("ISO # Time: with zone offset and no SET timestamp keeps micros") {
    val log =
      """# Time: 2024-01-15T12:00:01.123456+02:00
        |# User@Host: a[a] @ h []
        |# Query_time: 0.010000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |SELECT 1;
        |""".stripMargin
    val evs = SlowLogParser.parseString(log)
    assert(evs.size == 1)
    // 12:00:01.123456+02:00 == 10:00:01.123456Z
    assert(evs.head.ts.getTime == 1705312801123L)
    assert(evs.head.ts.getNanos == 123456000)
  }

  test("ISO # Time: without zone is treated as UTC") {
    val log =
      """# Time: 2024-01-15T10:00:01.500000
        |# User@Host: a[a] @ h []
        |# Query_time: 0.010000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1
        |SELECT 1;
        |""".stripMargin
    val evs = SlowLogParser.parseString(log)
    assert(evs.head.ts.getTime == 1705312801500L)
  }

  // -- re-chunking conservation (SURVEY.md §5.2 property 3) -------------

  /** Split exactly like the Hadoop record reader: at "\n# Time: ",
    * restoring the consumed header prefix, keeping true byte offsets. */
  private def recordSplit(text: String): Seq[(Long, String)] = {
    val delim = "\n# Time: "
    val cuts = Iterator.iterate(text.indexOf(delim))(p =>
      text.indexOf(delim, p + 1)).takeWhile(_ >= 0).toVector
    if (cuts.isEmpty) Seq((0L, text))
    else {
      val starts = 0L +: cuts.map(_ + 1L) // record starts at "# Time: "
      val ends = cuts.map(_.toLong) :+ text.length.toLong
      starts.zip(ends).map { case (s, e) => (s, text.substring(s.toInt, e.toInt)) }
    }
  }

  private def chunkedEqualsWhole(fixture: String): Unit = {
    val whole = SlowLogParser.parseString(fixture)
    val chunked = recordSplit(fixture)
      .flatMap { case (off, rec) => SlowLogParser.parseString(rec, off) }
    // distributed db-carry fill: last non-null db in offset order.
    // NOTE: per-record parses apply carry within their record, so only
    // events with no explicit-or-in-record db are null here.
    var carry: String = null
    val filled = chunked.sortBy(_.offset).map { e =>
      if (e.db != null) { carry = e.db; e }
      else e.copy(db = carry)
    }
    assert(filled == whole, s"\nfixture:\n$fixture")
  }

  test("property: per-record parse + db fill == sequential whole-file parse") {
    chunkedEqualsWhole(slow001)
  }

  test("property: re-chunking conservation on generated logs") {
    generatedLogs().foreach(chunkedEqualsWhole)
  }

  test("property: scanCarry equals the full parser's carry hand-off") {
    def check(text: String,
              init: SlowLogParser.SessionCarry =
                SlowLogParser.SessionCarry.empty): Unit = {
      val full = SlowLogParser.parseChunk(text, init)._2
      val light = SlowLogParser.scanCarry(text, init)
      assert(light == full, s"\ntext:\n$text")
    }
    check(slow001)
    // rate annotation, Schema, admin command — the explicit carries
    val edge =
      """# Time: 2024-01-15T10:00:01.000000Z
        |# User@Host: a[a] @ h []
        |# Query_time: 0.01 Lock_time: 0.0 Rows_sent: 1 Rows_examined: 1 Rate_limit: query:100
        |SELECT 1;
        |# Time: 2024-01-15T10:00:02.000000Z
        |# User@Host: a[a] @ h []
        |# Thread_id: 5  Schema: carried  QC_hit: No
        |# Query_time: 0.01 Lock_time: 0.0 Rows_sent: 1 Rows_examined: 1
        |# administrator command: Quit;
        |""".stripMargin
    check(edge)
    // Schema on an event that never flushes (no query, no admin) must
    // NOT become carry — the flush-gated rule, both from empty and
    // from a standing session state
    val noFlush =
      """# Time: 2024-01-15T10:00:03.000000Z
        |# Thread_id: 5  Schema: ghost  QC_hit: No
        |""".stripMargin
    check(noFlush)
    check(noFlush,
      SlowLogParser.SessionCarry("prev", "query", 50L, headerSeen = true))
    // generated corpus: whole-text equality AND threaded per-record
    // equality (the exact shape readRaw's two phases run)
    generatedLogs().foreach { log =>
      check(log)
      var fullC = SlowLogParser.SessionCarry.empty
      var lightC = SlowLogParser.SessionCarry.empty
      recordSplit(log).foreach { case (_, rec) =>
        fullC = SlowLogParser.parseChunk(rec, fullC)._2
        lightC = SlowLogParser.scanCarry(rec, lightC)
        assert(lightC == fullC, s"\nchunk:\n$rec")
      }
    }
  }

  // -- pinned output ---------------------------------------------------

  /** One event as a stable line: every field, metric maps in key order,
    * the timestamp as epoch millis + nanos (zone-independent). */
  private def canonical(e: SlowLogEvent): String = {
    def sorted[V](m: Map[String, V]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")
    val ts = if (e.ts == null) "null" else s"${e.ts.getTime}/${e.ts.getNanos}"
    Seq(e.offset, ts, e.admin, e.query, e.user, e.host, e.db, e.rateType,
      e.rateLimit, sorted(e.timeMetrics), sorted(e.numberMetrics),
      sorted(e.boolMetrics)).mkString("\u0001")
  }

  private def sha256(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  test("pinned: parser output and carry hand-offs hash to their goldens") {
    val fixtures = Seq(slow001, slow001.replace("\n", "\r\n"),
      slow001.replace("\n", "\r")) ++ SlowLogFixtures.edgeLogs
    val generated = generatedLogs()
    def events(logs: Seq[String]): Seq[String] =
      logs.flatMap(l => SlowLogParser.parseString(l).map(canonical) :+ "--")
    // the carry each record hands the next, threaded per record split
    val carries = (fixtures ++ generated).flatMap { log =>
      recordSplit(log).scanLeft(SlowLogParser.SessionCarry.empty) {
        case (c, (_, rec)) => SlowLogParser.scanCarry(rec, c)
      }.map(_.toString) :+ "--"
    }
    val got = Seq(
      sha256(events(fixtures).iterator), sha256(events(generated).iterator),
      sha256(carries.iterator))
    val want = Seq(
      "87617f60ab7a611cd2d0b08bff41f04e1664ef5f1018301999b07f94cd527fff",
      "53b667a1aa85623d70bef1761dd8906eda472f5041f29cda0d2e4eb5c4e7bafe",
      "65d502fa937eaaebdb9113e9755e741b8351804a896f7ccd7515b367f3133004")
    assert(got == want)
  }

  /** Deterministic generated slow-log corpus shared by the re-chunking
    * and carry-scan properties. */
  private def generatedLogs(count: Int = 250): Seq[String] = {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed

    val word = Gen.oneOf("orders", "audit", "t1", "cust", "nation")
    val eventGen: Gen[(Boolean, String)] = for {
      shareTime <- Gen.frequency(3 -> false, 1 -> true)
      user <- Gen.oneOf("app", "root", "etl")
      withId <- Gen.frequency(3 -> true, 1 -> false)
      useDb <- Gen.option(Gen.oneOf("db1", "db2"))
      useShape <- Gen.oneOf("use %s;", "USE `%s`;", "Use `%s`", "  uSe %s ;")
      // "" is the empty `Schema:` of a session with no default db
      schema <- Gen.option(Gen.oneOf("sch1", "sch2", ""))
      setTs <- Gen.oneOf(true, false)
      setShape <- Gen.oneOf("SET timestamp=%d;", "set TIMESTAMP = %d ;", "Set timestamp=%d")
      extended <- Gen.oneOf(true, false)
      stmt <- Gen.oneOf("select", "in", "values")
      tbl <- word
      lines <- Gen.choose(1, 3)
      k <- Gen.choose(0, 999)
    } yield {
      val sb = new StringBuilder
      val id = if (withId) s"  Id: ${k % 50}" else ""
      sb.append(s"# User@Host: $user[$user] @ h${k % 7} [10.0.0.${k % 9}]$id\n")
      sb.append(f"# Query_time: 0.${k}%06d  Lock_time: 0.000001 Rows_sent: ${k % 9}%d  Rows_examined: $k%d\n")
      if (extended)
        sb.append(s"# Thread_id: ${k % 50}${schema.map(s => s"  Schema: $s").getOrElse("")}  QC_hit: No\n")
      useDb.foreach(d => sb.append(useShape.format(d) + "\n"))
      if (setTs) sb.append(setShape.format(1705312800L + k) + "\n")
      val list = (0 to k % 6).map(v => s"${v * k}").mkString(", ")
      val q = stmt match {
        case "select" => (0 until lines).map(l => s"SELECT c$l FROM $tbl WHERE k = $k")
          .mkString(" AND x IN (1,\n")
        case "in" => s"SELECT a FROM $tbl WHERE b IN ($list)\n  AND c in(?, ?)"
        case _ => s"INSERT INTO $tbl (a) VALUES ($list),\n ($k)"
      }
      sb.append(q + ";\n")
      (shareTime, sb.result())
    }
    val timeGen: Gen[Int => String] = Gen.oneOf(
      (s: Int) => f"2024-01-15T10:00:$s%02d.000000Z",
      (s: Int) => f"2024-01-15T12:00:$s%02d.25+02:00",
      (s: Int) => f"2024-01-15T10:00:$s%02d",
      (s: Int) => f"240115 10:00:$s%02d")
    val logGen: Gen[String] = for {
      n <- Gen.choose(1, 25)
      evs <- Gen.listOfN(n, eventGen)
      secs <- Gen.listOfN(n, Gen.choose(0, 59))
      times <- Gen.listOfN(n, timeGen)
    } yield {
      val sb = new StringBuilder
      evs.zip(secs).zip(times).zipWithIndex.foreach {
        case ((((share, body), sec), time), i) =>
          if (i == 0 || !share) sb.append(s"# Time: ${time(sec)}\n")
          sb.append(body)
      }
      sb.result()
    }
    (0 until count).flatMap(i =>
      logGen.apply(Gen.Parameters.default, Seed(i.toLong)))
  }
}
