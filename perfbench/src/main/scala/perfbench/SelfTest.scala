package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import graft.slowlog.{Fingerprint, SlowLogParser}

/**
 * Generator self-tests (no Spark): the same seed gives byte-identical
 * files, another seed does not, and the generator's expected totals equal
 * a SEQUENTIAL `SlowLogParser.parseString` of its files — so the ingest
 * check is not circular with the distributed path it checks.
 */
object SelfTest {
  private val Spec = Specs.ingest.copy(events = 20000, files = 5)

  def run(work: Path): Int = {
    Stats.wipe(work.resolve("selftest"))
    val a = LogGen.generate(Spec, 42L, work.resolve("selftest/a"))
    val b = LogGen.generate(Spec, 42L, work.resolve("selftest/b"))
    val c = LogGen.generate(Spec, 43L, work.resolve("selftest/c"))
    def bytes(g: GenLog) = g.files.map(f => Files.readAllBytes(f).toSeq)
    val failures = Seq(
      if (bytes(a) == bytes(b)) None else Some("same seed gave different files"),
      if (bytes(a) != bytes(c)) None else Some("different seeds gave the same files"),
      if (a.byDayDbUser == b.byDayDbUser) None else Some("same seed gave different totals")
    ).flatten ++ parsedTotals(a)
    failures.foreach(f => System.err.println("[selftest] FAIL " + f))
    println(if (failures.isEmpty) "selftest: generator ok"
      else "selftest: FAILED: " + failures.mkString("; "))
    if (failures.isEmpty) 0 else 1
  }

  /** Totals re-derived from a sequential parse, against the generator's. */
  private def parsedTotals(g: GenLog): Seq[String] = {
    val events = g.files.flatMap(f =>
      SlowLogParser.parseString(new String(Files.readAllBytes(f), UTF_8)))
    def us(e: graft.slowlog.SlowLogEvent) =
      math.round(e.timeMetrics.getOrElse("Query_time", 0.0) * 1e6)
    def tot(es: Seq[graft.slowlog.SlowLogEvent]) =
      Totals(es.size, es.map(e => math.max(e.rateLimit.getOrElse(0L), 1L)).sum, es.map(us).sum)
    val byKey = events.groupBy(e =>
      (e.ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate.toString, e.db, e.user))
      .map { case (k, es) => k -> tot(es) }
    val byDigest = events.filterNot(_.admin)
      .groupBy(e => Fingerprint.digestId(Fingerprint.fingerprint(e.query)))
      .map { case (k, es) => k -> tot(es) }
    Seq(
      if (events.size == g.events) None
      else Some(s"sequential parse found ${events.size} events, generator wrote ${g.events}"),
      if (byKey == g.byDayDbUser) None
      else Some(s"per-(day, db, user) totals differ on ${(byKey.keySet ++ g.byDayDbUser.keySet).count(k => byKey.get(k) != g.byDayDbUser.get(k))} keys"),
      if (byDigest == g.byDigest) None
      else Some(s"per-template totals differ on ${(byDigest.keySet ++ g.byDigest.keySet).count(k => byDigest.get(k) != g.byDigest.get(k))} digests")
    ).flatten
  }
}
