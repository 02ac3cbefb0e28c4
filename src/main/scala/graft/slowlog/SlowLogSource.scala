package graft.slowlog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, TextInputFormat}
import org.apache.spark.rdd.NewHadoopRDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Distributed slow-log scan (SURVEY.md §2.1 R1–R2, §1.2 mapping).
 *
 * Spark-first design instead of the reference's single-goroutine file
 * tail:
 *
 *  1. `TextInputFormat` with record delimiter `"\n# Time: "` splits the
 *     log at event boundaries, so a 100 TB log directory parallelizes
 *     across executors with no seen-it-all coordinator. Each record is
 *     one or more complete events (consecutive same-second events share
 *     one `# Time:` header and therefore one record).
 *  2. Each record runs the sequential [[SlowLogParser]] state machine via
 *     `mapPartitions` — identical semantics to the reference parser
 *     within a record.
 *  3. The one cross-record dependency — `use db` / rate-annotation
 *     session carry — resolves in two MAP-ONLY passes (see [[readRaw]]):
 *     a light per-split carry scan whose tiny outputs prefix-combine on
 *     the driver into per-split seeds, then the seeded real parse.
 *     Nothing shuffles; a split's seed depends only on its
 *     predecessors' carry-outs, which is the sequential semantics
 *     restated at split granularity. (The pre-r13 shape instead ran a
 *     `last(_, ignoreNulls)` window over the full event frame — one
 *     full-width exchange + sort just to fill three columns.)
 *
 * Limitation shared with the record-delimiter trick: a line inside a
 * quoted SQL string that begins with `# Time: ` splits a record early;
 * the same text also confuses line-based parsers, pt-query-digest
 * included.
 */
object SlowLogSource {

  private val Delim = "\n# Time: "
  private val DelimPrefixBytes = "# Time: ".getBytes("UTF-8").length

  /**
   * Raw distributed scan: one row per event, plus the source `file`
   * column, `db`/rate session state carried across records exactly as
   * the sequential parser does (spec: distributed ≡ sequential, also
   * under forced 256-byte splits).
   *
   * Carry is resolved in TWO MAP-ONLY passes instead of a full-width
   * window exchange (the pre-r13 shape shuffled + sorted every wide
   * event row just to fill three columns — ingest's only non-map
   * stage, ~25–30% of ingest at measured scales and the piece that
   * grows super-linearly once partitions outgrow memory):
   *
   *  1. a LIGHT scan ([[SlowLogParser.scanCarry]] — no query assembly,
   *     no metric maps) computes each input split's carry-OUT; one
   *     tiny row per split collects to the driver, where per-file
   *     prefix combination yields each split's carry-IN (seed);
   *  2. the real parse runs ONCE, per-split seeded via broadcast,
   *     threading [[SlowLogParser.parseChunk]] record-to-record — so
   *     every event leaves the scan fully resolved and nothing
   *     shuffles, ever.
   *
   * The second read of the input bytes is the price (phase 1 rereads
   * what phase 2 parses); at any scale that beats shuffling the full
   * event stream — the shuffle also rewrites every byte, to network
   * and spill instead of a sequential re-scan. Phase 1 runs at CALL
   * time (one splits-count-sized job) — readRaw is eager about split
   * seeds, lazy about events.
   */
  def readRaw(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    import SlowLogParser.SessionCarry
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", Delim)
    def hrdd() = spark.sparkContext
      .newAPIHadoopFile(path, classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text], conf)
      .asInstanceOf[NewHadoopRDD[LongWritable, Text]]

    // phase 1: per-split carry-outs (one tiny row per split)
    val outs = hrdd().mapPartitionsWithInputSplit { (split, iter) =>
      val fs = split.asInstanceOf[FileSplit]
      var carry = SessionCarry.empty
      iter.foreach { case (k, v) =>
        val text =
          if (k.get() == 0L) v.toString else "# Time: " + v.toString
        carry = SlowLogParser.scanCarry(text, carry)
      }
      Iterator.single((fs.getPath.toString, fs.getStart, carry))
    }.collect()
    // driver-side prefix resolution per file: split i's seed is the
    // combination of carry-outs of splits 0..i-1 (splits-count work)
    def combine(a: SessionCarry, b: SessionCarry): SessionCarry =
      SessionCarry(
        if (b.db != null) b.db else a.db,
        if (b.rateType != null) b.rateType else a.rateType,
        if (b.rateLimit >= 0) b.rateLimit else a.rateLimit,
        a.headerSeen || b.headerSeen)
    val seeds: Map[(String, Long), SessionCarry] =
      outs.groupBy(_._1).flatMap { case (file, arr) =>
        var acc = SessionCarry.empty
        arr.sortBy(_._2).map { case (_, start, out) =>
          val seed = acc
          acc = combine(acc, out)
          ((file, start), seed)
        }
      }
    val bc = spark.sparkContext.broadcast(seeds)

    // phase 2: the real parse, carry threaded record-to-record from
    // the predecessor split's seed — map-only, fully resolved. The
    // split listing is FORCED here, at call time, for two reasons:
    // the seeds above are keyed by (file, splitStart) and must see the
    // IDENTICAL split set, and a caller writing its output under the
    // same parent directory (Ingest's dir → dir/warehouse shape) must
    // not have the input re-listed mid-write, when the committer's
    // _temporary subtree already exists (the pre-r13 window plan
    // dodged that race only by accident — AQE materialized its
    // exchange stage, and with it the listing, before the write job).
    val rdd2 = hrdd()
    rdd2.partitions
    val events = rdd2.mapPartitionsWithInputSplit { (split, iter) =>
      val fs = split.asInstanceOf[FileSplit]
      val file = fs.getPath.toString
      var carry = bc.value.getOrElse((file, fs.getStart), SessionCarry.empty)
      iter.flatMap { case (k, v) =>
        val off = k.get()
        // Records after the first lost the consumed "# Time: "
        // delimiter: restore the header so the state machine sees a
        // complete event.
        val (text, base) =
          if (off == 0L) (v.toString, 0L)
          else ("# Time: " + v.toString, math.max(0L, off - DelimPrefixBytes))
        val (evs, next) = SlowLogParser.parseChunk(text, carry, base)
        carry = next
        evs.map(e => (file, e))
      }
    }
    events.toDF("file", "event").select(col("file"), col("event.*"))
  }

  /** Typed event stream with reference (sequential-carry) semantics. */
  def read(spark: SparkSession, path: String): Dataset[SlowLogEvent] = {
    import spark.implicits._
    readRaw(spark, path).drop("file").as[SlowLogEvent]
  }
}
