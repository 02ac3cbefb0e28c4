package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Lexical retrieval over the document corpus: BM25 ranking and
 * conjunctive (all-terms) search — the keyword half of a RAG stack,
 * next to [[Similarity]]'s embedding half. Reference analog: the QAN
 * UI's fingerprint search box (SURVEY.md §2.2 "QAN query surface"),
 * generalized from substring match to ranked retrieval.
 *
 * Both operators run off the exploded token frame and aggregate to
 * vocabulary- or hit-bounded key spaces before any join, so nothing
 * here materializes per-document token lists. The query-term filter is
 * applied BEFORE the document-keyed aggregation — at 100 TB the frame
 * that shuffles is |matching postings|, not |corpus tokens|.
 */
object Search {

  /**
   * BM25 top-k — Robertson/Spärck-Jones ranking of documents against a
   * bag of query terms, the Lucene-default scoring shape:
   * `idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))`,
   * `score = Σ_t idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`.
   * Ranked on the ROUNDED score (4 dp) with the doc id as tiebreaker —
   * same cross-engine determinism rule as [[TextAnalysis.tfIdfTopTerms]].
   *
   * Scale shape: one pass over the exploded tokens feeding two
   * aggregates — per-document length (doc-keyed, map-side partials)
   * and per-(doc, query-term) tf, where the term filter is a broadcast
   * `isin` BEFORE the shuffle so the tf frame carries only matching
   * postings. df per query term and the (N, avgdl) pair are
   * |terms|-row and 1-row frames, broadcast into the scoring join.
   * The only corpus-sized shuffle is the doc-length aggregation.
   */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame =
    rankTopK(bm25Scores(docs, idCol, textCol, terms, k1, b), k)

  /** The full BM25 score frame `(doc_id, score, n_terms)` — [[bm25TopK]]
    * without the ranking tail, for compositions that re-weight scores
    * before ranking ([[phraseBoostTopK]]). The 4-dp rounding happens
    * HERE, once — re-weighting adds exact constants to the already-
    * rounded value, so downstream rounding is cosmetic. */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String],
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25Scores needs at least one query term")
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("token"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("_n"),
      avg("dl").as("_avgdl"))
    val tf = tok.filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("_idf",
        log(lit(1.0) + (col("_n") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("_w",
        col("_idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl") / col("_avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum("_w"), 4).as("score"),
        count(lit(1)).as("n_terms"))
  }

  // top-k FIRST (TakeOrderedAndProject — distributed heap, no
  // single-partition exchange of the full hit set), then the rank
  // window runs over k rows only.
  private def rankTopK(scores: DataFrame, k: Int): DataFrame =
    scores
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select("rn", "doc_id", "score", "n_terms")

  /**
   * Hybrid lexical retrieval: BM25 re-weighted by an exact-phrase
   * boost — documents containing `phrase` verbatim gain `+boost`
   * BEFORE the top-k cut, so a phrase match can pull a document into
   * the head that plain BM25 would rank below it. Candidate set is
   * BM25's (docs matching ≥ 1 query term): a phrase-only document
   * carries no BM25 evidence to re-weight. The phrase side reuses the
   * positional adjacency join ([[phraseStarts]]) — both legs share the
   * one corpus-sized stage shapes: token-filtered postings.
   */
  def phraseBoostTopK(docs: DataFrame, idCol: String, textCol: String,
                      terms: Seq[String], phrase: String, boost: Double,
                      k: Int, k1: Double = 1.2,
                      b: Double = 0.75): DataFrame = {
    val scores = bm25Scores(docs, idCol, textCol, terms, k1, b)
    val hits = phraseStarts(
        positionalPostings(docs, idCol, textCol), phrase)
      .select("doc_id").distinct().withColumn("_hit", lit(1))
    rankTopK(
      scores.join(hits, Seq("doc_id"), "left")
        .withColumn("score",
          round(col("score") +
            when(col("_hit").isNotNull, lit(boost)).otherwise(lit(0.0)), 4))
        .drop("_hit"),
      k)
  }

  /**
   * Conjunctive search — documents containing ALL query terms, the
   * posting-list-intersection primitive of an inverted index expressed
   * as one aggregation: distinct (doc, term) postings filtered to the
   * query terms, grouped by doc, kept when the distinct-term count
   * equals |terms|. No join chain — an n-way intersection is a single
   * shuffle regardless of term count, where the textbook
   * semi-join-per-term plan pays n−1 shuffles.
   *
   * Works identically against the live corpus or a persisted postings
   * table (see [[graft.sources.Layout.Inverted]]) — the
   * stored probe prunes on the term filter at the scan.
   */
  def conjunctiveSearch(postings: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "conjunctiveSearch needs at least one term")
    postings.filter(col("token").isin(terms: _*))
      .select("doc_id", "token").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") === terms.size)
      .select(col("doc_id"), col("n_matched"))
      .orderBy("doc_id")
  }

  /** The posting frame [[conjunctiveSearch]] consumes, from raw text:
    * distinct (token, doc_id) pairs. Split out so the same searcher
    * runs on the live corpus and on the at-rest index table. */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("token"))
      .distinct()

  /**
   * Prefix search, autocomplete shape: the ranked completions of
   * `prefix` — every matching token with its document frequency,
   * heaviest first. Works over [[postings]] or [[positionalPostings]]
   * (the inner distinct collapses positional duplicates).
   *
   * At-rest pruning story: hash buckets ([[graft.sources.Layout.Inverted]])
   * can't prune a RANGE of tokens, but the saver also sorts within
   * buckets by token, so the pushed `StringStartsWith` predicate skips
   * parquet row groups via their min/max stats — the scan cost tracks
   * the prefix range, not the index (spec-asserted PushedFilters).
   */
  def prefixCompletions(postings: DataFrame, prefix: String,
                        k: Int): DataFrame = {
    require(prefix.nonEmpty, "prefix must be non-empty")
    postings.filter(col("token").startsWith(prefix))
      .select("token", "doc_id").distinct()
      .groupBy("token").agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("token"))
      .limit(k)
  }

  /** POSITIONAL postings: one row per (doc, position, token) — what a
    * phrase query needs that [[postings]] throws away. */
  def positionalPostings(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "token")))

  /**
   * Start positions where `phrase` matches: word i's postings join
   * word 0's on `(doc, pos + i)` — the n-word generalization of the
   * two-term adjacency join. Every filter is token-selective BEFORE
   * its shuffle (against a stored positional table this is a
   * bucket-pruned read per word), so the joined frames carry
   * |matching postings| rows, never the corpus. Overlapping matches
   * each produce their own start row — the standard positional-index
   * semantics (`"a a"` in `"a a a"` starts at 0 AND 1).
   *
   * `pp` is a positional-postings frame — [[positionalPostings]] live,
   * or the table [[graft.sources.Layout.Inverted]] persists
   * from it (bucketed by token; the extra pos column rides along).
   */
  def phraseStarts(pp: DataFrame, phrase: String): DataFrame = {
    val words = phrase.trim.split("\\s+").toSeq
    require(words.nonEmpty && words.head.nonEmpty, "phrase must be non-empty")
    val head = pp.filter(col("token") === words.head)
      .select(col("doc_id"), col("pos"))
    words.zipWithIndex.drop(1).foldLeft(head) { case (acc, (w, i)) =>
      acc.join(pp.filter(col("token") === w)
          .select(col("doc_id"), (col("pos") - i).as("pos")),
        Seq("doc_id", "pos"))
    }
  }

  /** Exact phrase search, containment semantics: distinct ids of
    * documents where the words of `phrase` appear adjacently in order. */
  def phraseDocs(docs: DataFrame, idCol: String, textCol: String,
                 phrase: String): DataFrame =
    phraseDocsFrom(positionalPostings(docs, idCol, textCol), phrase)

  /** [[phraseDocs]] over an existing positional-postings frame (live
    * or at rest). */
  def phraseDocsFrom(pp: DataFrame, phrase: String): DataFrame =
    phraseStarts(pp, phrase).select("doc_id").distinct().orderBy("doc_id")

  /** Per-document phrase occurrence counts (one per start position,
    * overlaps included). Only matching docs appear. */
  def phraseOccurrences(pp: DataFrame, phrase: String): DataFrame =
    phraseStarts(pp, phrase).groupBy("doc_id")
      .agg(count(lit(1)).as("n_occ")).orderBy("doc_id")

  /**
   * Proximity search: documents where `termA` and `termB` occur within
   * `window` positions of each other, either order. The pair join is
   * BINNED (the [[RangeJoin]] pattern): positions bucket into
   * width-`window` bins, B registers in its bin and both neighbors,
   * the join runs on `(doc, bin)` and the exact `|Δpos| ≤ window`
   * filter follows — a qualifying pair's bins differ by at most one,
   * so each pair surfaces exactly once and a frequent term in a long
   * document pairs only against its window-neighborhood, never all of
   * A × B per doc.
   */
  def proximityDocs(pp: DataFrame, termA: String, termB: String,
                    window: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(termA != termB, "proximity terms must differ")
    val a = pp.filter(col("token") === termA)
      .select(col("doc_id"), col("pos").as("pa"))
      .withColumn("bin", floor(col("pa") / window))
    val b = pp.filter(col("token") === termB)
      .select(col("doc_id"), col("pos").as("pb"),
        floor(col("pb") / window).as("_b0"))
      .withColumn("bin",
        explode(array(col("_b0") - 1, col("_b0"), col("_b0") + 1)))
      .drop("_b0")
    a.join(b, Seq("doc_id", "bin"))
      .filter(abs(col("pa") - col("pb")) <= window)
      .select("doc_id").distinct().orderBy("doc_id")
  }

  /**
   * Character TRIGRAM postings — the pg_trgm shape: distinct
   * `(gram, doc_id)` pairs over every 3-char window of the text. The
   * index that makes arbitrary `%substring%` predicates (which no
   * token index and no parquet pushdown can touch) a bucket-pruned
   * lookup instead of a full-corpus scan.
   *
   * Build cost is one pass (≈len grams per doc before the per-doc
   * distinct, HOF-generated — acceptable: builds are one-time and
   * amortized by [[graft.sources.Layout.Trigram]]'s
   * at-rest table + blind appends). Texts shorter than 3 chars
   * contribute no grams (the sequence guard — `sequence(0,-1)`
   * DESCENDS) and can only be found by the caller's fallback scan.
   */
  def trigramPostings(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(org.apache.spark.sql.graftbridge.GraftColumnBridge.column(
        graft.functions.TrigramsExpr(
          org.apache.spark.sql.graftbridge.GraftColumnBridge.expression(
            col(textCol))))).as("gram"))

  /** The pure-built-ins HOF formulation of the per-doc distinct trigram
    * set — retained as the parity reference for
    * [[graft.functions.TrigramsExpr]]'s equality spec (the expression
    * is the build path: the HOF chain is CodegenFallback and its
    * interpreter tax dominated the 100× index build). */
  def trigramPostingsHof(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(when(length(col(textCol)) >= 3,
          transform(sequence(lit(0), length(col(textCol)) - 3),
            i => col(textCol).substr(i + 1, lit(3))))
          .otherwise(array().cast("array<string>")))).as("gram"))

  /**
   * Substring search through the trigram index: candidates = docs
   * containing EVERY trigram of the pattern (bucket-pruned posting
   * lookups + one count aggregate — never a corpus scan), then one
   * exact `contains` verify on just the candidate rows. Sound and
   * complete for patterns ≥ 3 chars: a doc containing the pattern
   * contains each of its trigrams, so the candidate set is a superset
   * (spec-proven) and the verify step removes exactly the accidental
   * gram co-occurrences.
   *
   * Output: `(doc_id)` of matching docs — identical to the full-scan
   * `WHERE contains(text, pattern)` the oracle runs.
   *
   * Pattern grams are windowed PER CODE POINT — the same walk as
   * [[graft.functions.TrigramsExpr.compute]] — so non-BMP patterns
   * (surrogate pairs) generate grams that actually exist in the index;
   * a `String.sliding(3)` over UTF-16 units would split surrogate
   * pairs and silently return false negatives. Length is validated in
   * code points for the same reason.
   */
  def substringSearch(postings: DataFrame, docs: DataFrame, idCol: String,
                      textCol: String, pattern: String): DataFrame = {
    require(pattern.codePointCount(0, pattern.length) >= 3,
      "substringSearch needs a pattern of >= 3 code points (shorter " +
        "patterns have no trigram and need the full-scan fallback)")
    val grams = codePointTrigrams(pattern)
    val cands = postings.filter(col("gram").isin(grams: _*))
      .select("doc_id", "gram").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("_ng"))
      .filter(col("_ng") === grams.size)
      .select("doc_id")
    docs.select(col(idCol).as("doc_id"), col(textCol).as("_t"))
      .join(cands, "doc_id")
      .filter(col("_t").contains(pattern))
      .select("doc_id")
  }

  /** Driver-side twin of [[graft.functions.TrigramsExpr.compute]]'s
    * windowing: three-CODE-POINT windows in first-occurrence order
    * (dedup'd), surrogate-pair safe. */
  private[graft] def codePointTrigrams(s: String): Seq[String] = {
    val n = s.length
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < n) { starts += i; i += Character.charCount(s.codePointAt(i)) }
    starts += n
    val cps = starts.length - 1
    if (cps < 3) Seq.empty
    else (0 to cps - 3).map(g => s.substring(starts(g), starts(g + 3))).distinct
  }

  /**
   * Reciprocal-rank fusion over any number of rankers, in INTEGER
   * micro-credits: each ranker contributes `1000000 div (kRrf + rank)`
   * to every document it ranked (documents a ranker missed contribute
   * nothing), summed exactly. Integer division replaces the textbook
   * double reciprocal (the q206 credit-basis-points rule) so the fused
   * score is an order-independent BIGINT — no reduce-order or ulp
   * drift across engines. Fused ties break toward the smaller doc id.
   *
   * The standard hybrid-retrieval combiner: hand it the sparse (BM25)
   * top-k and the dense (embedding kNN) top-k and it produces the
   * fused page without needing the two scores to be commensurable —
   * only ranks cross the fusion boundary.
   *
   * Input frames carry `(doc_id, rank)` with rank 1-based; output
   * `(rn, doc_id, rrf_micro, n_rankers)` for the fused top `topK`.
   *
   * Scale shape: inputs are top-k-bounded by construction, so the
   * union + aggregate touches |rankers|·k rows — one tiny exchange;
   * the expensive part of hybrid retrieval is producing the input
   * rankings, never fusing them.
   */
  def rrfFuse(rankings: Seq[DataFrame], kRrf: Int, topK: Int): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(kRrf >= 0, s"rrfFuse needs kRrf >= 0, got $kRrf")
    val credits = rankings
      .map(_.select(col("doc_id"),
        expr(s"CAST(1000000 DIV ($kRrf + rank) AS BIGINT)").as("credit")))
      .reduce(_ unionAll _)
    val fused = credits.groupBy("doc_id")
      .agg(sum("credit").as("rrf_micro"),
        count(lit(1)).as("n_rankers"))
    // global window over a |rankers|·k-bounded frame — not corpus-sized
    fused
      .withColumn("rn", row_number().over(
        Window.orderBy(col("rrf_micro").desc, col("doc_id"))).cast("long"))
      .filter(col("rn") <= topK)
      .select("rn", "doc_id", "rrf_micro", "n_rankers")
  }
}
