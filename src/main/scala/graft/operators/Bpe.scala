package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Distributed byte-pair-encoding merge learning (Sennrich et al. 2016,
 * "Neural Machine Translation of Rare Words with Subword Units") — the
 * tokenizer-training operator a training-data pipeline runs before
 * token counting: learn the top-N symbol-pair merges from a corpus.
 *
 * Scale shape: the ONLY corpus-sized stage is the initial word-count
 * aggregate (one hash-keyed exchange with map-side combine — the same
 * shape as q22's token counts). Every merge iteration then runs over
 * the VOCABULARY frame (distinct words × counts): one adjacency
 * flatMap + one pair aggregate + a one-row argmax collect (bounded by
 * construction, like the CC convergence probe), and the merge applies
 * as a map — no further shuffles of anything corpus-sized. At 100 TB
 * the vocabulary is millions of rows while the corpus is billions, so
 * iterations cost ~nothing relative to the one aggregate.
 *
 * Determinism contract (what makes the oracle hash-match): the argmax
 * tiebreak is total ((cnt desc, a, b)); pair statistics count EVERY
 * adjacent occurrence (overlaps included); a merge rewrites leftmost
 * non-overlapping occurrences — exactly `replace`'s semantics on the
 * space-delimited symbol string, identical in Spark and DuckDB.
 */
object Bpe {

  /** One learned merge: at `rnk` the pair (ml, mr) had weighted
    * adjacency count `cnt`. */
  final case class Merge(rnk: Long, ml: String, mr: String, cnt: Long)

  /** Corpus → vocabulary frame `(w, n)`: `w` is the space-delimited
    * symbol string with sentinel spaces (` h e l l o </w> `) so every
    * symbol — first and last included — is ` `-delimited for the
    * replace-based merge; `n` the word's corpus frequency. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(expr(
        s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(
        concat(lit(" "), concat_ws(" ", expr("split(word, '')")),
          lit(" </w> ")).as("w"),
        col("n"))

  /** Learn `numMerges` merges; returns them in rank order plus the
    * final segmented vocabulary (for applying the vocab downstream). */
  def learn(docs: DataFrame, textCol: String,
            numMerges: Int): (Seq[Merge], DataFrame) = {
    require(numMerges > 0, "numMerges must be positive")
    var words = wordCounts(docs, textCol).persist()
    words.count()
    val merges = Seq.newBuilder[Merge]
    var r = 1L
    var done = false
    while (r <= numMerges && !done) {
      val top = words
        .select(expr("split(trim(w), ' ')").as("l"), col("n"))
        // a fully merged word is ONE symbol; sequence(0,-1) would
        // descend, so guard (the oracle's range(1,1) is empty already)
        .filter(size(col("l")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(l)-2), i -> struct(l[i] AS a, l[i+1] AS b))"))
          .as("p"), col("n"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect() // one row by construction — never the corpus
      if (top.isEmpty) done = true
      else {
        val (a, b, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(r, a, b, c)
        // symbols are [a-z]+ or </w> — safe inside a SQL literal
        val old = words
        words = words.withColumn("w",
          expr(s"replace(w, ' $a $b ', ' $a$b ')")).persist()
        words.count()
        old.unpersist()
        r += 1
      }
    }
    (merges.result(), words)
  }

  /** The learned merge table as a DataFrame (rank-ordered). */
  def mergeTable(docs: DataFrame, textCol: String,
                 numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, words) = learn(docs, textCol, numMerges)
    words.unpersist()
    merges.toDF("rnk", "ml", "mr", "cnt").orderBy("rnk")
  }

  /** The corpus's BPE-token frequency table under the learned merges:
    * explode the final segmented vocabulary weighted by word frequency
    * — the unigram distribution a tokenizer-budget analysis reads.
    * Top-k by (count desc, token). */
  def tokenTable(docs: DataFrame, textCol: String, numMerges: Int,
                 topK: Int): DataFrame = {
    val (_, words) = learn(docs, textCol, numMerges)
    // sever the result from the cached iteration chain (the caller
    // materializes lazily, after the unpersist below)
    val snap = Materialize(words)
    words.unpersist()
    snap
      .select(explode(expr("split(trim(w), ' ')")).as("tok"), col("n"))
      .groupBy("tok").agg(sum("n").as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(topK)
  }

  /** DuckDB twin of [[tokenTable]]: [[mergeTableSql]]'s CTE chain with
    * the final select swapped for the weighted token explode. */
  def tokenTableSql(numMerges: Int, topK: Int): String = {
    val chain = mergeTableSql(numMerges)
    val cut = chain.lastIndexOf(" SELECT rnk")
    chain.substring(0, cut) +
      s" SELECT tok, CAST(sum(n) AS BIGINT) AS cnt FROM " +
      s"(SELECT unnest(string_split(trim(w), ' ')) AS tok, n FROM w$numMerges) " +
      s"GROUP BY 1 ORDER BY cnt DESC, tok LIMIT $topK"
  }

  /** DuckDB twin of [[mergeTable]]: the iteration unrolled as a
    * generated CTE chain (the simHashHexSql pattern) — identical
    * pair statistics, argmax tiebreak, and leftmost-non-overlapping
    * merge application. The w/p CTEs are MATERIALIZED: each level
    * reads its predecessor twice, so inlining would expand the scan
    * 2^N-fold (observed as a too-many-open-files failure at N=8). */
  def mergeTableSql(numMerges: Int, source: String = "documents"): String = {
    val union = (1 to numMerges).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rnk, a AS ml, b AS mr, cnt FROM t$r")
      .mkString(" UNION ALL ")
    s"WITH ${mergeChainCtes(numMerges, source)} " +
      s"SELECT rnk, ml, mr, cnt FROM ($union) ORDER BY rnk"
  }

  /** The learn-iteration CTE chain (w0..wN, pN, tN), parameterized by
    * the training source — shared by [[mergeTableSql]],
    * [[tokenTableSql]], and the held-out [[applyStatsSql]]. */
  private def mergeChainCtes(numMerges: Int, source: String): String = {
    val init = "w0 AS MATERIALIZED (SELECT ' ' || array_to_string(string_split(word, ''), ' ') || ' </w> ' AS w, n " +
      "FROM (SELECT word, count(*) AS n FROM " +
      s"(SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM $source) GROUP BY 1))"
    val iters = (1 to numMerges).map { r =>
      s"p$r AS MATERIALIZED (SELECT p[1] AS a, p[2] AS b, CAST(sum(n) AS BIGINT) AS cnt " +
        s"FROM (SELECT unnest([ [l[i], l[i+1]] for i in range(1, len(l)) ]) AS p, n " +
        s"FROM (SELECT string_split(trim(w), ' ') AS l, n FROM w${r - 1})) GROUP BY 1,2), " +
        s"t$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1), " +
        s"w$r AS MATERIALIZED (SELECT replace(w, ' ' || (SELECT a FROM t$r) || ' ' || (SELECT b FROM t$r) || ' ', " +
        s"' ' || (SELECT a FROM t$r) || (SELECT b FROM t$r) || ' ') AS w, n FROM w${r - 1})"
    }
    s"$init, ${iters.mkString(", ")}"
  }

  /**
   * Apply a STORED rank-ordered merge table to a NEW corpus — the
   * serving half of the tokenizer model at rest
   * ([[graft.sources.Layout.Plain]]): the merge list
   * collects (numMerges rows, bounded by construction) and compiles
   * into ONE chained-replace projection, so held-out tokenization is a
   * single map-only scan over the per-(group, word) counts — no
   * iteration, no shuffle beyond the word-count aggregate. Same
   * leftmost-non-overlapping replace semantics as training.
   *
   * Output per `byCol` group: `(by, n_words, n_tokens, n_whole)` —
   * word instances, BPE token instances after the merges, and words
   * reduced to a single symbol (fully merged) — all exact integers,
   * the fertility/compression readout a tokenizer-budget review wants
   * on held-out text.
   */
  def applyStats(docs: DataFrame, textCol: String, byCol: String,
                 merges: DataFrame): DataFrame = {
    val ms = merges.select(col("rnk"), col("ml"), col("mr"))
      .collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2)))
    val words = docs
      .select(col(byCol).as("_by"), explode(expr(
        s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("word"))
      .groupBy("_by", "word").agg(count(lit(1)).as("n"))
      .select(col("_by"),
        concat(lit(" "), concat_ws(" ", expr("split(word, '')")),
          lit(" </w> ")).as("w"),
        col("n"))
    // symbols are [a-z]+ or </w> — safe inside a SQL literal (the
    // learn-loop rule)
    val applied = ms.foldLeft("w") { case (e, (a, b)) =>
      s"replace($e, ' $a $b ', ' $a$b ')"
    }
    words
      .select(col("_by"),
        size(split(trim(expr(applied)), " ")).as("_k"), col("n"))
      .groupBy("_by")
      .agg(sum(col("n")).as("n_words"),
        sum(col("_k").cast("long") * col("n")).as("n_tokens"),
        sum(when(col("_k") === 1, col("n")).otherwise(0L)).as("n_whole"))
      .withColumnRenamed("_by", byCol)
  }

  /** DuckDB twin of [[applyStats]]: the training chain on
    * `trainSource`, then the stored merges replayed as chained
    * replaces over `testSource`'s per-(group, word) counts. */
  def applyStatsSql(numMerges: Int, trainSource: String,
                    testSource: String, byCol: String): String = {
    val applyIters = (1 to numMerges).map { r =>
      s"a$r AS MATERIALIZED (SELECT $byCol, replace(w, ' ' || (SELECT a FROM t$r) || ' ' || (SELECT b FROM t$r) || ' ', " +
        s"' ' || (SELECT a FROM t$r) || (SELECT b FROM t$r) || ' ') AS w, n FROM a${r - 1})"
    }
    s"WITH ${mergeChainCtes(numMerges, trainSource)}, " +
      s"a0 AS (SELECT $byCol, ' ' || array_to_string(string_split(word, ''), ' ') || ' </w> ' AS w, n " +
      s"FROM (SELECT $byCol, word, count(*) AS n FROM " +
      s"(SELECT $byCol, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM $testSource) GROUP BY 1, 2)), " +
      applyIters.mkString(", ") +
      s" SELECT $byCol, CAST(sum(n) AS BIGINT) AS n_words, " +
      s"CAST(sum(len(string_split(trim(w), ' ')) * n) AS BIGINT) AS n_tokens, " +
      s"CAST(sum(CASE WHEN len(string_split(trim(w), ' ')) = 1 THEN n ELSE 0 END) AS BIGINT) AS n_whole " +
      s"FROM a$numMerges GROUP BY 1 ORDER BY 1"
  }
}
