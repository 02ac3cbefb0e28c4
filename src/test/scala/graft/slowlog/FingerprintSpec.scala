package graft.slowlog

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Golden corpus + property tests for the pt-query-digest-compatible
  * fingerprint (SURVEY.md §5.2 items 2–3). Properties are drawn
  * deterministically from scalacheck Gens (fixed seeds) so the suite is
  * reproducible without the scalatestplus bridge artifact. */
class FingerprintSpec extends AnyFunSuite {
  import Fingerprint.{fingerprint => fp, digestId}

  private def samples[A](g: Gen[A], n: Int = 300): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  // -- golden corpus ---------------------------------------------------

  private val golden: Seq[(String, String)] = Seq(
    // FIXTURES.md slow001.log event 1: IN-list + string literal
    ("SELECT o_orderkey, o_totalprice FROM orders\nWHERE o_custkey IN (1, 2, 3) AND o_orderstatus = 'F';",
     "select o_orderkey, o_totalprice from orders where o_custkey in(?+) and o_orderstatus = ?"),
    // FIXTURES.md event 2: multi-row VALUES collapse
    ("INSERT INTO audit (a, b) VALUES (1, 'x'), (2, 'y');",
     "insert into audit (a, b) values(?+)"),
    // basic literal replacement + lowercase
    ("SELECT * FROM t WHERE id = 42", "select * from t where id = ?"),
    // backslash-escaped quote inside string
    ("select 'it\\'s' from t", "select ? from t"),
    // doubled-quote escapes (single and double quoted)
    ("select 'a''b', \"c \"\"d\"\" e\" from t", "select ?, ? from t"),
    // numbers embedded in identifiers survive
    ("SELECT col1 FROM tbl2 WHERE host = 'web01'", "select col1 from tbl2 where host = ?"),
    // decimal / scientific / hex / leading-dot
    ("select 1.5, 1e9, 1.5E-3, 0xDEADbeef, .25", "select ?, ?, ?, ?, ?"),
    // negative number in value position; binary minus untouched
    ("select a - 5 from t where b = -5 and c < -1.5", "select a - ? from t where b = ? and c < ?"),
    // NULL → ?
    ("SELECT NULL, a FROM t WHERE b IS NULL", "select ?, a from t where b is ?"),
    // comments stripped (block, --, #)
    ("SELECT /* hint */ a FROM t -- trailing\nWHERE b=1 # note\n  AND c=2",
     "select a from t where b=? and c=?"),
    // whitespace collapse incl. newlines/tabs
    ("SELECT\n\t a,\n\n  b\tFROM   t", "select a, b from t"),
    // single-element IN collapses too
    ("select a from t where b in (1)", "select a from t where b in(?+)"),
    // IN with strings and negatives
    ("select a from t where b IN ('x', -2, 3.5)", "select a from t where b in(?+)"),
    // IN (subquery) must NOT collapse
    ("select a from t where b in (select c from u where d = 1)",
     "select a from t where b in (select c from u where d = ?)"),
    // single-row VALUES collapses
    ("INSERT INTO t VALUES (1, 'a', NULL)", "insert into t values(?+)"),
    // VALUE spelling normalizes to values(?+)
    ("insert into t value (1, 2)", "insert into t values(?+)"),
    // use db → use ?
    ("use orders_db;", "use ?"),
    // administrator command passthrough (case preserved, ; stripped)
    ("administrator command: Quit;", "administrator command: Quit"),
    ("administrator command: Ping", "administrator command: Ping"),
    // backtick identifiers keep digits and backticks
    ("SELECT `col1` FROM `db1`.`tbl9` WHERE x = 7",
     "select `col1` from `db1`.`tbl9` where x = ?"),
    // LIMIT / OFFSET literals (normalized per the pt limit rule)
    ("select a from t order by a limit 10 offset 20",
     "select a from t order by a limit ?"),
    // string containing ; and # and comment-like content
    ("select a from t where s = 'x; # not a comment /* nope */'",
     "select a from t where s = ?"),
    // multi-line VALUES across lines
    ("INSERT INTO x(a,b)\nVALUES\n  (1,2),\n  (3,4)", "insert into x(a,b) values(?+)"),
    // timestamps / dates as strings
    ("select * from t where ts >= '2024-01-15 10:00:01' and ts < '2024-01-16'",
     "select * from t where ts >= ? and ts < ?"),
    // unary minus in function args
    ("select round(x, 2), power(y, -2) from t", "select round(x, ?), power(y, ?) from t"),
    // pt rule: LIMIT n, m and LIMIT n OFFSET m normalize to limit ?
    ("select a from t limit 10, 20", "select a from t limit ?"),
    ("select a from t limit 10 offset 20", "select a from t limit ?"),
    // pt rule: redundant ASC dropped from ORDER BY (DESC kept)
    ("select a from t order by a ASC, b DESC, c asc",
     "select a from t order by a, b desc, c"),
    // asc as a plain identifier outside order-by is untouched
    ("select asc from t where asc = 5", "select asc from t where asc = ?"),
    // pt rule: CALL normalizes to the bare procedure name
    ("CALL foo(1, 2, 3)", "call foo"),
    ("call sp_cleanup", "call sp_cleanup"),
    // trailing-dot decimal and exponent-zero literals (pt corpus shapes)
    ("select null, 5.001, 5001. from healthy_animal",
     "select ?, ?, ? from healthy_animal"),
    ("select 0e0, +6, 5, -80", "select ?, ?, ?, ?"),
    // backticked use
    ("use `foo`", "use ?"),
    // REPLACE INTO also collapses VALUES
    ("REPLACE INTO t(a) VALUES (1), (2)", "replace into t(a) values(?+)"),
    // pt special case: mysqldump table-copy SELECTs (exact casing)
    ("SELECT /*!40001 SQL_NO_CACHE */ * FROM `film`", "mysqldump"),
    // pt special case: percona-toolkit progress comment
    ("REPLACE /*checksum.checksum:3/5*/ INTO t(a) VALUES (1)",
     "percona-toolkit"),
    // /*!40001 version comment stripped when NOT the mysqldump shape
    ("SELECT /*!40001 SQL_NO_CACHE */ col FROM t WHERE id = 1",
     "select col from t where id = ?"),
    // hex literals inside IN-lists collapse with the rest
    ("select a from t where b in (0xDEAD, 0xBEEF, 0x01)",
     "select a from t where b in(?+)"),
    // mixed-type IN-list: hex, int, string, negative
    ("select a from t where b IN (1, 0x2F, 'x', -3)",
     "select a from t where b in(?+)"),
    // backticked column compared to hex, IN-list without spaces
    ("select `c1` from t where `c1`=0x4F and id in(0x1F,2)",
     "select `c1` from t where `c1`=? and id in(?+)"),
    // LIMIT 0 is still a literal
    ("SELECT a FROM t LIMIT 0", "select a from t limit ?"),
    // VALUES collapse leaves the ON DUPLICATE KEY tail intact
    ("insert into t (a) values (1) on duplicate key update a = 2",
     "insert into t (a) values(?+) on duplicate key update a = ?"),
    // pt rule: boolean literals abstract like NULL (whole-word only)
    ("select * from t where active = TRUE and deleted = false",
     "select * from t where active = ? and deleted = ?"),
    ("SELECT true, FALSE", "select ?, ?"),
    // ...but identifiers merely containing them pass through
    ("select true_flag from t where istrue = 1",
     "select true_flag from t where istrue = ?"),
    // multi-statement line: each statement's literals abstract; the
    // interior semicolon survives (pt has no special rule either)
    ("SELECT 1; SELECT 2;", "select ?; select ?"),
    // LOAD DATA: the filename and delimiters are plain string literals
    ("LOAD DATA LOCAL INFILE '/tmp/x.csv' INTO TABLE t FIELDS TERMINATED BY ',' IGNORE 1 LINES",
     "load data local infile ? into table t fields terminated by ? ignore ? lines"),
    // nested block comment: comments end at the FIRST */ (pt's
    // non-greedy strip) — the dangling tail is kept verbatim
    ("select /* a /* b */ c */ 1", "select c */ ?"),
    // USE is anchored (pt `\Ause \S+\Z`): a multi-statement line keeps
    // its tail instead of collapsing the whole line to use ?
    ("use db1; SELECT 1", "use db1; select ?"),
    // charset-introducer literals: the string abstracts to ?, the
    // introducer token survives as an identifier (pt's string regex
    // eats only the quoted span) — multibyte content is irrelevant
    // after abstraction (\uXXXX escapes per the r12 source-file rule)
    ("SELECT _utf8mb4'héllo wörld' FROM t WHERE id = 1",
     "select _utf8mb4? from t where id = ?"),
    ("select _binary'ab cd' from t", "select _binary? from t"),
    // national-string literals: N lowercases like any identifier char
    ("select N'abc' , n'déf' from t", "select n? , n? from t"),
    // hex/bit-string literals x'...'/b'...': pt's second number rewrite
    // ([xb.+-]\? -> ?) folds the introducer into the ? (r14 parity fix;
    // the r13 golden kept the x)
    ("select x'4D7953514C', X'00' from t", "select ?, ? from t"),
    ("select b'1010', B'0' from t where c = b'01'",
     "select ?, ? from t where c = ?"),
    // 0b bit-value literals are numbers (pt's class [0-9a-f.xb+-])
    ("select 0b01, 0B1100 from t where m = 0b0", "select ?, ? from t where m = ?"),
    // ...but an identifier ENDING in x/b before a string keeps itself:
    // the introducer fold applies to standalone x/b only
    ("select colx 'al' from t", "select colx ? from t"),
    // bare _utf8/_latin1 introducers (the narrow charset names, next to
    // the _utf8mb4 case above)
    ("SELECT _utf8'abc' FROM t", "select _utf8? from t"),
    ("select _latin1'x' from t where a=1", "select _latin1? from t where a=?"),
    // multibyte inside plain string literals
    ("select 'データ' from t where col = '漢字'",
     "select ? from t where col = ?"),
    // multibyte IDENTIFIERS pass through untouched (only literals
    // abstract; case-folding is ASCII-scoped like pt's \L)
    ("select côl from tàble_ü where x = 1",
     "select côl from tàble_ü where x = ?"),
    // mid-token version comments strip like any block comment (the
    // mysqldump shape is the ONLY /*! special case), leaving one
    // collapsed space where the comment sat
    ("SELECT id/*!50000 ,name*/ FROM t WHERE a=1",
     "select id from t where a=?"),
    ("select a/*!50000 b*/c from t where x=1",
     "select a c from t where x=?"),
    ("select * from t where x=/*!50000 5*/5",
     "select * from t where x= ?"),
    ("SELECT /*!32302 1 */ FROM t WHERE a = 2",
     "select from t where a = ?")
  )

  golden.zipWithIndex.foreach { case ((in, want), idx) =>
    test(f"golden[$idx%02d]: ${want.take(50)}") {
      assert(fp(in) == want)
    }
  }

  // -- properties ------------------------------------------------------

  private val sqlGen: Gen[String] = {
    val word  = Gen.oneOf("select", "a", "b", "t", "from", "where", "and",
                          "col1", "x9", "order", "by")
    val lit   = Gen.oneOf("42", "-7", "3.14", "'str'", "\"d q\"", "NULL",
                          "0xFF", "1e6", "'it''s'")
    val token = Gen.frequency(3 -> word, 2 -> lit,
      1 -> Gen.oneOf(",", "(", ")", "=", "<", ">", ";", "\n", "\t"))
    Gen.listOf(token).map(_.mkString(" "))
  }

  test("property: fingerprint is idempotent") {
    samples(sqlGen).foreach { q =>
      val once = fp(q)
      assert(fp(once) == once, s"not idempotent for input: $q -> $once -> ${fp(once)}")
    }
  }

  test("property: no literals, uppercase, or double spaces survive") {
    samples(sqlGen).foreach { q =>
      val out = fp(q)
      assert(!out.exists(c => c == '\'' || c == '"'), s"quote survives: $q -> $out")
      assert(out == out.toLowerCase, s"uppercase survives: $q -> $out")
      assert(!out.contains("  "), s"double space: $q -> $out")
    }
  }

  /** Statements dense in the list, LIMIT and comment shapes the rewrite
    * passes handle, with word-boundary hazards (non-ASCII letters, a
    * combining mark, `_`) and every whitespace kind next to them. */
  private val listSqlGen: Gen[String] = {
    val lead = Gen.oneOf("", "x", "é", "_", "\u0301", "`", "(", " ", "1", "ß")
    val kw = Gen.oneOf("in", "IN", "values", "VALUE", "limit", "LIMIT", "offset",
      "join", "min", "order by a asc", "call p(1)")
    val item = Gen.oneOf("1", "'s'", "?", "-2.5", "NULL", "a", "0x1F", "(1, 2)")
    val ws = Gen.oneOf("", " ", "\t", "\n", "\u000B", "  ")
    val piece = for {
      l <- lead; k <- kw; w1 <- ws; n <- Gen.choose(0, 4)
      items <- Gen.listOfN(n, item); w2 <- ws; close <- Gen.oneOf(")", "", ") ,(2)")
    } yield s"$l$k$w1(${items.mkString("," + w2)}$close"
    val other = Gen.oneOf("select a from t where b", "insert into t", "/*c.d:1/2*/",
      "/* x */", "`in (1)`", "limit 5, 6", "limit 1 offset 2", ";", "# c\n")
    Gen.listOf(Gen.frequency(3 -> piece, 1 -> other)).map(_.mkString(" "))
  }

  test("pinned: fingerprints of a generated statement corpus hash to the golden") {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (samples(sqlGen, 2000) ++ samples(listSqlGen, 5000)).foreach { q =>
      md.update((q + "\u0001" + fp(q) + "\n").getBytes("UTF-8"))
    }
    assert(md.digest().map(b => f"$b%02x").mkString ==
      "b560f74c68868fe914ee9bf9fb7933f64190d747d5d0e82239bb610e2ccd30d3")
  }

  test("property: digest is 16 uppercase hex chars and deterministic") {
    samples(Gen.asciiPrintableStr, 200).foreach { s =>
      val d = digestId(s)
      assert(d.length == 16)
      assert(d.matches("[0-9A-F]{16}"))
      assert(d == digestId(s))
    }
  }

  test("digest equals LAST 16 of uppercase MD5 (pt make_checksum contract)") {
    val d = digestId("select ?")
    assert(d == java.security.MessageDigest.getInstance("MD5")
      .digest("select ?".getBytes("UTF-8"))
      .map(b => f"$b%02X").mkString.takeRight(16))
  }
}
