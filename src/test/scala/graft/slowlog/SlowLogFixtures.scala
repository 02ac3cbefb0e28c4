package graft.slowlog

/** Shared slow-log text fixtures (FIXTURES.md §B). */
object SlowLogFixtures {

  /** FIXTURES.md slow001.log, verbatim: ISO Time, User@Host, basic +
    * Percona-extended metrics, use, SET timestamp, multi-line SQL, admin
    * command, IN-list for the fingerprint. */
  val slow001: String =
    """# Time: 2024-01-15T10:00:01.123456Z
      |# User@Host: appuser[appuser] @ web01 [10.0.0.5]  Id:    42
      |# Query_time: 0.003218  Lock_time: 0.000087 Rows_sent: 10  Rows_examined: 1000
      |use orders_db;
      |SET timestamp=1705312801;
      |SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_custkey IN (1, 2, 3) AND o_orderstatus = 'F';
      |# Time: 2024-01-15T10:00:02.000000Z
      |# User@Host: appuser[appuser] @ web01 [10.0.0.5]  Id:    42
      |# Query_time: 1.500000  Lock_time: 0.010000 Rows_sent: 0  Rows_examined: 500000
      |# Thread_id: 42  Schema: orders_db  QC_hit: No
      |# Full_scan: Yes  Full_join: No  Tmp_table: Yes  Tmp_table_on_disk: No
      |# Filesort: Yes  Filesort_on_disk: No  Merge_passes: 0
      |# InnoDB_IO_r_ops: 100  InnoDB_IO_r_bytes: 1638400  InnoDB_IO_r_wait: 0.500000
      |# InnoDB_rec_lock_wait: 0.000000  InnoDB_queue_wait: 0.000000  InnoDB_pages_distinct: 64
      |SET timestamp=1705312802;
      |INSERT INTO audit (a, b) VALUES (1, 'x'), (2, 'y');
      |# Time: 2024-01-15T10:00:03.000000Z
      |# User@Host: root[root] @ localhost []  Id:    43
      |# Query_time: 0.000010  Lock_time: 0.000000 Rows_sent: 0  Rows_examined: 0
      |SET timestamp=1705312803;
      |# administrator command: Quit;
      |""".stripMargin

  /** Header, metric and statement shapes at the edge of the parser's
    * grammar, one small log each: every `# Time:` spelling (canonical,
    * offset, zone-less, old, leap second, 24:00, empty fraction, lowercase
    * z, invalid date, over-long fraction), `User@Host` without `Id`,
    * with trailing junk or an overflowing `Id`, empty `Schema:`,
    * `Key: abc:def` values, signed and exponent numbers, mixed-case
    * `SET timestamp`/`USE` with backticks (also inside a statement),
    * tabs, vertical tabs and non-ASCII text. */
  val edgeLogs: Seq[String] = Seq(
    """# Time: 2024-01-15T10:00:01Z
      |# User@Host: a[a] @ h [1.2.3.4]
      |# Query_time: +1.5e3  Lock_time: -.5 Rows_sent: +7  Rows_examined: -0
      |# Thread_id: 99999999999999999999  Killed: 1.  Last_errno: 0x10
      |SELECT 1;
      |# Time: 2024-01-15T12:00:01.5+02:00
      |# User@Host: b @ host2 []  Id: 7 trailing
      |# Schema:  Last_errno: 3  Killed: 0
      |# Note: abc:def  QC_hit: Yes  Full_scan: no  Bogus: :x  Colon:
      |sELECT 2;
      |# Time: 240115 9:05:07.25
      |# User@Host: [c] @ [10.0.0.1]  Id: 99999999999999999999
      |Set TIMESTAMP = 1705312900 ;
      |USE `db_1$`;
      |select 3
      |use inner_db;
      |SET timestamp=1;
      |""".stripMargin,
    "# Time: 2024-01-15T23:59:60Z\n# User@Host: u[u] @ h []\tId:\t5\t\nSELECT 4;\n" +
      "# Time: 2024-01-15T24:00:00Z\n# User@Host:u@h\n  use   `x`  \nSELECT 5;\n" +
      "# Time: 2024-01-15T10:00:01.Z\n#\tUser@Host: u[u] @ h []  Id: 6\u000B\nSELECT 6;\n" +
      "# Time: 2024-01-15t10:00:01z\n# User@Host: u[u] @ h [] xId: 8\n# Query_time:\u000B1.0  Lock_time:\t2\nSELECT 7;\n" +
      "# Time: 2024-02-30T10:00:01Z\n# User@Host: üser[ü] @ höst []  Id: 9\nSELECT 'é';\n" +
      "# Time: 2024-01-15T10:00:01.1234567891Z\n# User@Host: u[u] @ h [] éId: 10\nSELECT 8;\n" +
      "# Time: 2000-02-29T00:00:00.000001Z\n# User@Host: u[u] @ h [] _Id: 11\nsEt tImEsTaMp=12;\nSELECT 9;\n"
  )
}
