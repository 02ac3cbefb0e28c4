package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom
import scala.collection.mutable

/** The knobs of one generated slow-log set. Each workload states its own
  * values (see [[LogSpec]] presets in [[Workloads]]). */
final case class LogSpec(
    events: Int,            // events over all files
    files: Int,             // rotated files in the directory
    sizeSkew: Double,       // file i holds a share ∝ 1 / (i + 1)^sizeSkew
    days: Int,              // day span: the warehouse's q_date partition count
    templates: Int,         // distinct statement templates (distinct digests)
    zipf: Double,           // Zipf skew of template frequency
    inListMax: Int,         // IN-list length, uniform in 1..inListMax
    multiLineShare: Double, // statements written over several lines
    extendedShare: Double,  // events carrying Percona extended-metric lines
    useShare: Double,       // events preceded by a `use db` switch
    adminShare: Double,     // `# administrator command:` events
    sampledShare: Double,   // events logged under a rate_limit > 1 annotation
    startDay: String = "2024-03-01")

/** Expected sink totals for one key: event count, rate-scaled count
  * (Σ max(rate_limit, 1), as Qan scales) and Query_time sum in µs. */
final case class Totals(cnt: Long, cntScaled: Long, timeUs: Long) {
  def +(o: Totals): Totals =
    Totals(cnt + o.cnt, cntScaled + o.cntScaled, timeUs + o.timeUs)
}

/** One generated log set and what the sink must hold after ingesting it. */
final case class GenLog(
    dir: Path,
    files: Seq[Path],
    bytes: Long,
    events: Long,
    byDayDbUser: Map[(String, String, String), Totals],
    byDigest: Map[String, Totals],
    digests: IndexedSeq[String], // template rank → digest (rank 0 most frequent)
    zipfCdf: Array[Double]) {

  /** Totals per (db, user) over days in [since, until) (ISO dates; None = open). */
  def byDbUser(since: Option[String] = None,
               until: Option[String] = None): Map[(String, String), Totals] =
    byDayDbUser.toSeq
      .filter { case ((d, _, _), _) =>
        since.forall(d >= _) && until.forall(d < _) }
      .groupMapReduce { case ((_, db, u), _) => (db, u) }(_._2)(_ + _)

  /** A digest drawn with the generator's own Zipf template frequencies. */
  def sampleDigest(rng: SplittableRandom): String =
    digests(LogGen.draw(zipfCdf, rng))
}

/**
 * Seeded Percona-format slow-log generator: the same seed gives
 * byte-identical files. Events are spread over `days` days and over
 * `files` rotated files with skewed sizes; each file covers a contiguous
 * time slice and starts with a `use` so no event has a null db, while
 * later `use` switches and rate-limit annotations carry across record
 * boundaries (the distributed reader's session-carry path).
 *
 * Query_time is drawn in whole microseconds and printed with six
 * decimals, so the parsed double of each event is the exact decimal and
 * the µs totals are exact.
 */
object LogGen {

  private val Tables = Seq("orders", "users", "items", "carts", "stock",
    "events", "audit", "payments", "sessions", "invoices", "shipments",
    "reviews")
  private val Cols = Seq("id", "user_id", "status", "created_at", "amount",
    "sku", "region", "score", "kind", "qty")
  private val Dbs = Seq("shop", "billing", "crm", "analytics", "inventory",
    "auth")
  private val Users = Seq("app", "app", "app", "batch", "report", "admin",
    "etl", "api")
  private val AdminCmds = Seq("Quit", "Ping", "Prepare", "Close stmt",
    "Init DB")

  private def alpha(i: Int): String = {
    val sb = new StringBuilder
    var n = i
    do { sb.append(('a' + n % 26).toChar); n = n / 26 } while (n > 0)
    sb.toString
  }

  def draw(cdf: Array[Double], rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private def cdf(weights: Seq[Double]): Array[Double] = {
    val total = weights.sum
    weights.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  /** One statement template: renders a fresh instance per call. All
    * instances share one fingerprint (literals and IN-lists collapse). */
  private final class Template(id: Int, rng0: SplittableRandom, spec: LogSpec) {
    private val shape = id % 6
    private val table = Tables(id % Tables.size) + "_" + alpha(id / Tables.size)
    private val other = Tables((id + 5) % Tables.size) + "_" + alpha(id / 7)
    private val cs = Cols.sortBy(_ => rng0.nextDouble()).take(4)
    /** The template's typical latency (µs) and rows examined. */
    val baseUs: Long = 200L + rng0.nextLong(200000L)
    val baseRows: Long = 1L + rng0.nextLong(100000L)

    def render(r: SplittableRandom): String = {
      def n = r.nextInt(100000)
      def s = "'" + alpha(r.nextInt(1 << 20)) + "'"
      def inList = (0 until 1 + r.nextInt(spec.inListMax)).map(_ => n).mkString(", ")
      val Seq(a, b, c, d) = cs
      val parts = shape match {
        case 0 => Seq(s"SELECT $a, $b FROM $table", s"WHERE $c = $n AND $d IN ($inList)",
          s"ORDER BY $a LIMIT ${1 + r.nextInt(100)}")
        case 1 => Seq(s"UPDATE $table SET $a = $s, $b = $n", s"WHERE $c = $n")
        case 2 => Seq(s"INSERT INTO $table ($a, $b, $c)", s"VALUES ($n, $s, $n)")
        case 3 => Seq(s"DELETE FROM $table", s"WHERE $a < $n AND $b = $s")
        case 4 => Seq(s"SELECT t.$a, COUNT(*) FROM $table t",
          s"JOIN $other o ON o.$b = t.$c", s"WHERE o.$d IN ($inList)",
          s"GROUP BY t.$a")
        case _ => Seq(s"SELECT * FROM $table", s"WHERE $a BETWEEN $n AND $n")
      }
      if (r.nextDouble() < spec.multiLineShare) parts.mkString("\n  ")
      else parts.mkString(" ")
    }
  }

  private val DayMicros = 86400L * 1000000L

  private def fmtUs(us: Long): String = {
    val frac = (us % 1000000).toString
    s"${us / 1000000}." + "0" * (6 - frac.length) + frac
  }

  private def isoTs(epochUs: Long): String = {
    val secs = Math.floorDiv(epochUs, 1000000L)
    val frac = Math.floorMod(epochUs, 1000000L)
    val t = java.time.LocalDateTime.ofEpochSecond(secs, 0, java.time.ZoneOffset.UTC).toString
    // LocalDateTime prints no seconds field when it is :00
    (if (t.length == 16) t + ":00" else t) + "." + fmtUs(frac).drop(2) + "Z"
  }

  /** Write the log set for `spec` under `dir` (created) from `seed`, and
    * its expected totals to `<dir>-totals.tsv` beside it (not inside: the
    * directory is the ingest input). */
  def generate(spec: LogSpec, seed: Long, dir: Path): GenLog = {
    Files.createDirectories(dir)
    val rng = new SplittableRandom(seed)
    val templates = (0 until spec.templates).map(i => new Template(i, rng.split(), spec))
    val tplCdf = cdf((1 to spec.templates).map(k => 1.0 / math.pow(k, spec.zipf)))
    val userCdf = cdf(Users.indices.map(i => 1.0 / (i + 1)))
    val shares = cdf((0 until spec.files).map(i => 1.0 / math.pow(i + 1, spec.sizeSkew)))
    // file f holds events [bounds(f), bounds(f+1)), in time order
    val bounds = 0 +: shares.map(x => math.round(x * spec.events).toInt)
    val startUs = LocalDate.parse(spec.startDay).toEpochDay * DayMicros
    val spanUs = spec.days * DayMicros

    val byKey = mutable.HashMap.empty[(String, String, String), Totals]
    val byTpl = new Array[Totals](spec.templates).map(_ => Totals(0, 0, 0))
    val digests = new Array[String](spec.templates)
    val paths = mutable.ArrayBuffer.empty[Path]
    var bytes = 0L

    for (f <- 0 until spec.files) {
      val sb = new java.lang.StringBuilder(1 << 20)
      // rotated-log naming: slow.log is the newest file
      val name = if (f == spec.files - 1) "slow.log" else s"slow.log.${spec.files - 1 - f}"
      sb.append("/usr/sbin/mysqld, Version: 8.0.36-28 (Percona Server). started with:\n")
        .append("Tcp port: 3306  Unix socket: /var/run/mysqld/mysqld.sock\n")
        .append("Time                 Id Command    Argument\n")
      var db: String = null
      var rate = 1L
      val n = bounds(f + 1) - bounds(f)
      for (k <- 0 until n) {
        val g = bounds(f) + k
        val tsUs = startUs + (spanUs.toDouble * (g + rng.nextDouble()) / spec.events).toLong
        val user = Users(draw(userCdf, rng))
        val admin = rng.nextDouble() < spec.adminShare
        val t = draw(tplCdf, rng)
        val tpl = templates(t)
        val qUs = math.max(1L, (tpl.baseUs * (0.25 + 1.5 * rng.nextDouble())).toLong)
        sb.append("# Time: ").append(isoTs(tsUs)).append('\n')
        sb.append("# User@Host: ").append(user).append('[').append(user)
          .append("] @ app").append(rng.nextInt(8)).append(" [10.0.0.")
          .append(rng.nextInt(250)).append("]  Id: ").append(1000 + rng.nextInt(9000))
          .append('\n')
        // sampling segments (~20 events long): an annotation governs
        // every later event of the file until the next one
        val wantRate =
          if (rng.nextDouble() >= 0.05) rate
          else if (rng.nextDouble() < spec.sampledShare) 100L else 1L
        if (wantRate != rate) {
          sb.append("# Log_slow_rate_type: query  Log_slow_rate_limit: ")
            .append(wantRate).append('\n')
          rate = wantRate
        }
        sb.append("# Query_time: ").append(fmtUs(qUs))
          .append("  Lock_time: ").append(fmtUs(rng.nextLong(qUs / 10 + 1)))
          .append("  Rows_sent: ").append(rng.nextInt(1000))
          .append("  Rows_examined: ").append(tpl.baseRows + rng.nextInt(1000))
          .append("  Rows_affected: ").append(rng.nextInt(10)).append('\n')
        if (rng.nextDouble() < spec.extendedShare) {
          sb.append("# Bytes_sent: ").append(rng.nextInt(1 << 20))
            .append("  Tmp_tables: ").append(rng.nextInt(3))
            .append("  Tmp_disk_tables: ").append(rng.nextInt(2))
            .append("  Tmp_table_sizes: ").append(rng.nextInt(1 << 16)).append('\n')
          sb.append("# QC_hit: No  Full_scan: ").append(if (rng.nextBoolean()) "Yes" else "No")
            .append("  Full_join: No  Tmp_table: No  Tmp_table_on_disk: No\n")
          sb.append("# Filesort: ").append(if (rng.nextBoolean()) "Yes" else "No")
            .append("  Filesort_on_disk: No  Merge_passes: 0\n")
          sb.append("#   InnoDB_IO_r_ops: ").append(rng.nextInt(100))
            .append("  InnoDB_IO_r_bytes: ").append(rng.nextInt(1 << 20))
            .append("  InnoDB_IO_r_wait: ").append(fmtUs(rng.nextInt(1000000))).append('\n')
          sb.append("#   InnoDB_rec_lock_wait: 0.000000  InnoDB_queue_wait: 0.000000\n")
          sb.append("#   InnoDB_pages_distinct: ").append(rng.nextInt(500)).append('\n')
        }
        if (k == 0 || rng.nextDouble() < spec.useShare) {
          db = Dbs(rng.nextInt(Dbs.size))
          sb.append("use ").append(db).append(";\n")
        }
        sb.append("SET timestamp=").append(Math.floorDiv(tsUs, 1000000L)).append(";\n")
        if (admin)
          sb.append("# administrator command: ")
            .append(AdminCmds(rng.nextInt(AdminCmds.size))).append(";\n")
        else {
          val q = tpl.render(rng)
          sb.append(q).append(";\n")
          if (digests(t) == null)
            digests(t) = graft.slowlog.Fingerprint.digestId(
              graft.slowlog.Fingerprint.fingerprint(q))
          byTpl(t) = byTpl(t) + Totals(1, rate, qUs)
        }
        // SET timestamp is second-precision and wins over # Time:
        val day = LocalDate.ofEpochDay(Math.floorDiv(tsUs, DayMicros)).toString
        val key = (day, db, user)
        byKey(key) = byKey.getOrElse(key, Totals(0, 0, 0)) + Totals(1, rate, qUs)
      }
      val b = sb.toString.getBytes(UTF_8)
      val p = dir.resolve(name)
      Files.write(p, b)
      bytes += b.length
      paths += p
    }
    val known = digests.indices.filter(digests(_) != null)
    val g = GenLog(dir, paths.toSeq, bytes, spec.events.toLong, byKey.toMap,
      known.map(i => digests(i) -> byTpl(i)).toMap,
      known.map(digests(_)),
      cdf(known.map(i => 1.0 / math.pow(i + 1, spec.zipf))))
    writeTotals(g, dir.resolveSibling(dir.getFileName.toString + "-totals.tsv"))
    g
  }

  /** Tab-separated expected totals: per (day, db, user) and per template
    * digest — count, rate-scaled count, Query_time sum in µs. */
  private def writeTotals(g: GenLog, out: Path): Unit = {
    val lines = Seq("kind\tday\tdb\tuser_or_digest\tcnt\tcnt_scaled\tquery_time_us") ++
      g.byDayDbUser.toSeq.sortBy(_._1).map { case ((d, db, u), t) =>
        s"db_user\t$d\t$db\t$u\t${t.cnt}\t${t.cntScaled}\t${t.timeUs}" } ++
      g.byDigest.toSeq.sortBy(_._1).map { case (dg, t) =>
        s"template\t\t\t$dg\t${t.cnt}\t${t.cntScaled}\t${t.timeUs}" }
    Files.write(out, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
