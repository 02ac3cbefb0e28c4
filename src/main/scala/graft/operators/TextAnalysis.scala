package graft.operators

import graft.sources.{Side, Warehouse}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for the LLM-pipeline surface: marker-based
 * language ID, quality bucketing, BPE-ish token counting, and a rolling
 * document fingerprint. Every function here is a pure Column expression
 * (no UDFs), and every formula is deliberately expressible 1:1 in the
 * DuckDB oracle SQL so the operators are hash-verified end-to-end —
 * [[ExtQueries]] generates both sides from the same constants.
 */
object TextAnalysis {

  /** Language marker words (space-delimited forms so they only match
    * whole words); zh markers are CJK characters. Tiny on purpose — the
    * heuristic is the documented scalable shape (count marker hits, take
    * the argmax), not a linguistics claim. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " a ", " of "),
    "fr" -> Seq(" le ", " la ", " et "),
    "es" -> Seq(" el ", " los ", " y "),
    "de" -> Seq(" der ", " die ", " und "),
    "zh" -> Seq("的", "是", "在"))

  /** Occurrence count of a literal marker: (len - len(remove(marker))) /
    * len(marker). Same expression shape as the oracle's `replace`. */
  def occurrences(text: Column, marker: String): Column =
    (length(text) - length(call_function("replace", text, lit(marker), lit("")))) /
      marker.length

  private def score(text: Column, markers: Seq[String]): Column =
    markers.map(m => occurrences(text, m)).reduce(_ + _)

  /** Predicted language: argmax of marker scores with fixed precedence
    * (en > fr > es > de > zh on ties, so all-zero scores yield "en"). */
  def predictLang(text: Column): Column = {
    val scores = LangMarkers.map { case (lang, ms) => lang -> score(text, ms) }
    def gmax(cols: Seq[Column]): Column =
      if (cols.size == 1) cols.head else greatest(cols: _*)
    def chain(rest: List[(String, Column)]): Column = rest match {
      case (lang, _) :: Nil => lit(lang)
      case (lang, s) :: tail =>
        when(s >= gmax(tail.map(_._2)), lang).otherwise(chain(tail))
      case Nil => lit(null)
    }
    chain(scores.toList)
  }

  /** Whitespace word count (single-space-delimited text). */
  def wordCount(text: Column): Column =
    length(text) - length(translate(text, " ", "")) + 1

  /** Length-based quality bucket — the scalable scan-only shape of a
    * quality scorer (ratio features bucketed by thresholds). */
  def qualityBucket(text: Column): Column = {
    val wc = wordCount(text)
    when(wc < 40, "short").when(wc < 70, "medium").otherwise("long")
  }

  /** Stopword list for the quality score — tiny on purpose (the
    * mechanism is the contract); single source for the Spark filter AND
    * the generated oracle IN-list. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "is", "in", "to", "it")

  /** Punctuation class shared with the oracle regex. */
  val PunctClass: String = "[.,!?;:]"

  /** Punctuation-character count: length minus length with the class
    * stripped — the same expression shape in both engines. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, PunctClass, ""))

  /** Stopword-token count over the whitespace tokens. */
  def stopwordCount(text: Column): Column =
    size(filter(split(text, " "), t => t.isin(Stopwords: _*))).cast("long")

  /**
   * Composite quality score in [0, 1] — the three prompt-canonical
   * ratio features: stopword ratio (natural prose has some), inverse
   * punctuation density (tables/boilerplate are punctuation-heavy),
   * and a length prior saturating at 100 words. Weights are fixed
   * constants shared with the generated oracle; scores round to 4 dp
   * so cross-engine float noise cannot flip a bucket.
   */
  def qualityScore(text: Column): Column = {
    val wc = wordCount(text).cast("double")
    val stopRatio = stopwordCount(text) / wc
    val punctRatio = punctCount(text) / length(text).cast("double")
    round(lit(0.4) * stopRatio + lit(0.3) * (lit(1.0) - punctRatio) +
      lit(0.3) * least(lit(1.0), wc / 100.0), 4)
  }

  /** BPE-ish token count: letter runs, digit runs, and single non-space
    * symbols each count as one token. */
  val TokenPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(TokenPattern), lit(0))).cast("long")

  /**
   * Top-k terms per group by TF-IDF: tf = term occurrences within the
   * group, idf = ln(N_docs / doc-frequency), ranked on the ROUNDED
   * score (4 dp) with the token as tiebreaker so the ordering is
   * reproducible across engines (raw doubles can differ by an ulp of
   * `ln` between implementations; 4-dp rounding absorbs that).
   *
   * Scale shape: two aggregations over the exploded token frame (both
   * with map-side partials; the (group, token) and (token) key spaces
   * are vocabulary-bounded, not corpus-bounded), one shuffle join of
   * the two term-keyed aggregates, a broadcast of the single-row corpus
   * count, and a top-k window over vocabulary-sized groups. The corpus
   * itself is scanned once.
   */
  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    byCol: String, k: Int): DataFrame = {
    val tok = docs.select(col(idCol), col(byCol),
      explode(split(col(textCol), " ")).as("token"))
    val tf = tok.groupBy(col(byCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tok.groupBy(col("token"))
      .agg(countDistinct(col(idCol)).as("df"))
    val n = docs.agg(count(lit(1)).as("_n"))
    val scored = tf.join(dfreq, "token").crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("_n") * lit(1.0) / col("df")), 4))
    val w = Window.partitionBy(byCol).orderBy(col("score").desc, col("token"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col(byCol), col("token"), col("score"), col("rn"))
  }

  /**
   * Top-k bigram collocations by pointwise mutual information:
   * `pmi = ln(c_ab · N / (c_a · c_b))` with N the corpus unigram count,
   * ranked on the ROUNDED score with the bigram as tiebreaker (same
   * cross-engine rationale as [[tfIdfTopTerms]]). A support floor keeps
   * hapax pairs — whose PMI is maximal by construction — out of the
   * ranking.
   *
   * Scale shape: bigram and unigram aggregates (vocabulary-keyed,
   * map-side partials), two shuffle joins of the bigram counts against
   * the unigram counts, a broadcast single-row total, one top-k.
   */
  def pmiBigrams(docs: DataFrame, textCol: String, minCount: Long,
                 k: Int): DataFrame = {
    val ws = split(col(textCol), " ")
    val bi = docs.select(explode(zip_with(
        slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val uniToks = docs.select(explode(ws).as("w"))
    val uni = uniToks.groupBy("w").agg(count(lit(1)).as("c_w"))
    val n = uniToks.agg(count(lit(1)).as("_n"))
    bi.join(uni.select(col("w").as("w1"), col("c_w").as("c_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c_w").as("c_b")), "w2")
      .crossJoin(broadcast(n))
      .withColumn("pmi", round(
        log(col("c_ab") * col("_n") * lit(1.0) / (col("c_a") * col("c_b"))), 4))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .select(col("w1"), col("w2"), col("c_ab"), col("pmi"))
      .limit(k)
  }

  /**
   * Per-document bigram language-model score: train a maximum-likelihood
   * bigram LM on the corpus itself (P(w2|w1) = c(w1 w2) / c(w1 ·), the
   * left-context count so probabilities sum to exactly 1 per history
   * with no end-of-doc edge), then score each document by the mean log
   * probability of its bigrams — the classic "how typical is this text
   * of the corpus" quality signal (low scores: gibberish, boilerplate
   * collisions, wrong-language fragments). Self-trained, so every bigram
   * has count ≥ 1 and no smoothing is needed. Documents with fewer than
   * two words carry no bigrams and drop out (same rule in the oracle).
   *
   * Returns `(idCol, n_bigrams, avg_ll)` with `avg_ll = round(avg(ln
   * P), 4)` — rounded AFTER the aggregate like every float aggregate on
   * the oracle surface.
   *
   * Scale shape (r12 rewrite — the q193 "delete stages before knobs"
   * rule applied to the 1.22 exponent this op measured at 100×): the
   * instance stream crosses exactly TWO exchanges — the (w1,w2) count
   * aggregate (map-side partials, vocabulary-sized output) and the
   * model join — plus the per-doc aggregate. `c(w1 ·)` is the w1-sum
   * OF `c(w1 w2)` (every instance counted once in each), so it is
   * folded from the vocabulary-sized count table, never by a second
   * instance-sized aggregate; the two counts join into one
   * vocabulary-sized probability model BEFORE meeting the instances,
   * so the instance stream is exchanged once for its model lookup
   * (AQE-broadcast when the vocabulary is small) instead of twice.
   * Nothing is collected: the "model" never leaves the cluster.
   */
  def bigramLogLikelihood(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val ws = split(col(textCol), " ")
    val inst = docs.filter(size(ws) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col(idCol), col("bg.w1"), col("bg.w2"))
    val c12 = inst.groupBy("w1", "w2").agg(count(lit(1)).as("_c12"))
    val c1 = c12.groupBy("w1").agg(sum("_c12").as("_c1"))
    val model = c12.join(c1, "w1")
    inst.join(model, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("_c12").cast("double") / col("_c1"))), 4)
          .as("avg_ll"))
  }

  /**
   * LM-rarity quality filter — the perplexity-filter shape (CCNet /
   * Gopher style "drop text the corpus LM finds surprising") with the
   * transcendentals designed OUT: instead of thresholding mean log
   * probability (engine-libm territory), count bigrams whose MLE
   * probability is below `1/probFloor` — `c12/c1 < 1/probFloor ⟺
   * c1 > probFloor·c12`, an exact integer comparison — and flag
   * documents where rare bigrams exceed `shareNum/shareDen` of all
   * bigrams (again cross-multiplied: `shareDen·n_rare ≥
   * shareNum·n_bigrams`). Same corpus-trained counts as
   * [[bigramLogLikelihood]]; where that op SCORES, this one DECIDES,
   * and every cell of the decision is integer-exact on any engine.
   * Returns `(idCol, n_bigrams, n_rare, flagged)`.
   *
   * Scale shape: identical to [[bigramLogLikelihood]] — one bigram
   * explode, two count aggregates over the (bounded) bigram/unigram
   * vocabularies, joined back map-side after AQE broadcasts the
   * heavier side's build; one per-doc aggregate.
   */
  def lmRarityFilter(docs: DataFrame, idCol: String, textCol: String,
                     probFloor: Long = 100L, shareNum: Long = 3L,
                     shareDen: Long = 10L): DataFrame = {
    val ws = split(col(textCol), " ")
    val inst = docs.filter(size(ws) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col(idCol), col("bg.w1"), col("bg.w2"))
    // same two-exchange shape as bigramLogLikelihood (r12): c1 folded
    // from the vocabulary-sized c12 table, counts pre-joined into one
    // model before the instance stream's single lookup join
    val c12 = inst.groupBy("w1", "w2").agg(count(lit(1)).as("_c12"))
    val c1 = c12.groupBy("w1").agg(sum("_c12").as("_c1"))
    val model = c12.join(c1, "w1")
    inst.join(model, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("_c1") > lit(probFloor) * col("_c12"), 1L)
          .otherwise(0L)).as("n_rare"))
      .withColumn("flagged",
        lit(shareDen) * col("n_rare") >= lit(shareNum) * col("n_bigrams"))
  }

  /**
   * Per-document Shannon character entropy in nats — the
   * alphabet-agnostic gibberish/compression-quality filter (base64
   * blobs and repeated-char runs sit far from natural text's ~2.9–3.2):
   * `H = ln n − (Σ c·ln c)/n` over per-document character counts (the
   * algebraic form keeps ONE rounding site after the aggregate).
   * Returns `(idCol, n_chars, entropy)`.
   *
   * Scale shape: character explode → one (doc, char) hash aggregate
   * with map-side combine → one per-doc aggregate; the intermediate is
   * bounded by docs × |alphabet|, and nothing is ever collected. The
   * explode inflates the scan ~|text|×, which is what a distribution
   * count over characters costs anywhere — for a cheaper scalar proxy
   * compose [[qualityScore]] instead.
   */
  def charEntropy(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame =
    docs.filter(length(col(textCol)) > 0)
      .select(col(idCol),
        length(col(textCol)).cast("long").as("n_chars"),
        round(charEntropyCol(col(textCol)), 4).as("entropy"))

  /** Jaro-Winkler similarity of two string columns — the native
    * codegen'd [[graft.functions.JaroWinklerExpr]], byte-parity with
    * DuckDB's `jaro_winkler_similarity` (spec- and oracle-proven). */
  def jaroWinkler(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.GraftColumnBridge.column(
      graft.functions.JaroWinklerExpr(
        org.apache.spark.sql.graftbridge.GraftColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.GraftColumnBridge.expression(b)))

  /** The native one-pass entropy kernel as a Column
    * ([[graft.functions.CharEntropyExpr]]) — unrounded nats. */
  def charEntropyCol(text: Column): Column =
    org.apache.spark.sql.graftbridge.GraftColumnBridge.column(
      graft.functions.CharEntropyExpr(
        org.apache.spark.sql.graftbridge.GraftColumnBridge
          .expression(text)))

  /** The explode → two-aggregate formulation — retained as the
    * pure-built-ins parity reference for [[charEntropy]]'s equality
    * spec (it shuffles ~|text|× the scan; the expression ships
    * nothing). Drops empty-text rows by construction, matching the
    * expression path's `length > 0` filter. */
  def charEntropyExploded(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val cnt = docs
      // Spark's split(-1 limit) keeps a trailing "" the oracle's
      // splitter never emits — drop empties on this side
      .select(col(idCol), explode(split(col(textCol), "")).as("_ch"))
      .filter(length(col("_ch")) > 0)
      .groupBy(col(idCol), col("_ch"))
      .agg(count(lit(1)).as("_c"))
    cnt.groupBy(col(idCol))
      .agg(sum("_c").as("n_chars"),
        round(log(sum("_c")) -
          sum(col("_c") * log(col("_c"))) / sum("_c"), 4).as("entropy"))
  }

  /** Rolling polynomial fingerprint over words: fold of
    * h → (h*31 + ascii(first char) + len(word)) mod 1e9+7. Order-sensitive
    * (unlike a bag-of-words hash) and O(words) per doc. */
  def rollingFingerprint(text: Column): Column =
    aggregate(
      transform(split(text, " "), w => (ascii(w) + length(w)).cast("long")),
      lit(0L),
      (h, x) => (h * 31 + x) % 1000000007L)

  /** The native one-pass repetition kernel as a Column
    * ([[graft.functions.RepetitionStatsExpr]]) — `array<bigint>` of
    * `[n_bigrams, top_bigram_c, n_trigrams, dup_tri_inst]`. */
  def repetitionStatsCol(text: Column): Column =
    org.apache.spark.sql.graftbridge.GraftColumnBridge.column(
      graft.functions.RepetitionStatsExpr(
        org.apache.spark.sql.graftbridge.GraftColumnBridge
          .expression(text)))

  /**
   * Gopher-style within-document repetition statistics (Rae et al.
   * 2021 §A1.1 — the "repetitious documents are low quality" filter
   * family): per doc, the total and the most frequent 2-gram's
   * instance count, and the number of 3-gram instances whose gram is
   * duplicated inside the document. Thresholding is the caller's
   * (e.g. `5·top_bigram_c > n_bigrams` is Gopher's 0.2 top-2-gram
   * bound as an exact integer cross-multiplication). Returns
   * `(idCol, n_bigrams, top_bigram_c, n_trigrams, dup_tri_inst)`.
   *
   * Scale shape: the metric is strictly per-document, so it shuffles
   * NOTHING — one codegen'd expression pass fused into the scan
   * (the [[charEntropy]] kernel precedent), vs. the naive explode →
   * (doc, gram) aggregate → per-doc aggregate that ships every token
   * through two exchanges. At 100 TB this is a map-only stage.
   */
  def repetitionStats(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    docs.select(col(idCol), repetitionStatsCol(col(textCol)).as("_r"))
      .select(col(idCol),
        element_at(col("_r"), 1).as("n_bigrams"),
        element_at(col("_r"), 2).as("top_bigram_c"),
        element_at(col("_r"), 3).as("n_trigrams"),
        element_at(col("_r"), 4).as("dup_tri_inst"))

  /** The explode → two-aggregate formulation — the pure-built-ins
    * parity reference for [[repetitionStats]]'s equality spec. Keeps
    * docs with ≥ 2 tokens only (the gram explode drops shorter ones);
    * the expression path reports zeros for those instead. */
  def repetitionStatsExploded(docs: DataFrame, idCol: String,
                              textCol: String): DataFrame = {
    val ws = split(col(textCol), " ")
    // gram keys by position: explode the window-start offsets, key =
    // the n tokens from that offset joined with the splitter (carrying
    // the token array along the explode — no join-back)
    def gramKeys(n: Int): DataFrame = docs.filter(size(ws) >= n)
      .select(col(idCol), ws.as("_ws"),
        explode(sequence(lit(1), size(ws) - (n - 1))).as("_i"))
      .select(col(idCol), concat_ws(" ",
        (0 until n).map(j => element_at(col("_ws"), col("_i") + j)): _*)
        .as("_g"))
    val bg = gramKeys(2).groupBy(col(idCol), col("_g"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col(idCol))
      .agg(sum("_c").as("n_bigrams"), max("_c").as("top_bigram_c"))
    val tg = gramKeys(3).groupBy(col(idCol), col("_g"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col(idCol))
      .agg(sum("_c").as("n_trigrams"),
        sum(when(col("_c") >= 2, col("_c")).otherwise(0L)).as("dup_tri_inst"))
    bg.join(tg, idCol)
  }

  /** Unicode normalization of a string column (NFC default) via the
    * codegen'd [[graft.functions.UnicodeNormExpr]] — run before any
    * hash/dedup/tokenize step so composed-vs-decomposed twins
    * canonicalize to one form. */
  def normalizeUnicode(c: Column, form: String = "NFC"): Column =
    org.apache.spark.sql.graftbridge.GraftColumnBridge.column(
      graft.functions.UnicodeNormExpr(
        org.apache.spark.sql.graftbridge.GraftColumnBridge.expression(c),
        form))

  /**
   * Multinomial Naive Bayes text classifier, trained and applied in one
   * call — the fastText-style LEARNED quality/language filter next to
   * [[predictLang]]'s fixed-marker heuristic. Training counts
   * whitespace tokens per (label, token) with add-one smoothing over
   * the training vocabulary V; scoring sums
   * `tf · ln((c+1)/(tot_label+|V|))` per in-vocabulary test token plus
   * the `ln(n_label/n_docs)` prior, and predicts the argmax label
   * (ties → lexicographically smaller label). Out-of-vocabulary test
   * tokens are dropped (the clean cross-engine convention: both sides
   * inner-join the training vocabulary); test documents with NO
   * in-vocabulary token drop out entirely.
   *
   * Determinism: the per-document score is a double sum of ln terms
   * rounded once after the aggregate — the q103 bigram-LM precedent —
   * and the argmax margin is nats-sized, far above ulp jitter. Label
   * ties break by sorted-label index via the struct-greatest rule.
   *
   * Scale shape: the label set is bounded by construction (collected —
   * the fitCodebooks discipline); the per-token likelihood table is
   * vocabulary-keyed and pivots the bounded label set WIDE, so scoring
   * is ONE join of test postings against that table plus one
   * document-keyed aggregate. No per-(doc, label) row explosion ever
   * materializes — the label dimension rides in columns.
   *
   * Output: `(id, <labelCol>, pred, score)` — true label carried
   * through for confusion accounting, score = rounded log-posterior of
   * the predicted label (up to the shared evidence constant).
   */
  def naiveBayesClassify(train: DataFrame, test: DataFrame, idCol: String,
                         textCol: String, labelCol: String): DataFrame = {
    val (counts, labelStats) = naiveBayesFit(train, idCol, textCol, labelCol)
    naiveBayesScoreFrom(counts, labelStats, test, idCol, textCol, labelCol)
  }

  /**
   * The training half of [[naiveBayesClassify]], split out so the model
   * can persist at rest ([[graft.sources.Layout.NaiveBayes]]) and
   * grow by BLIND APPEND: both frames are pure additive count partials
   * (the q201 rollup discipline), so appending a new batch's partials
   * and merging on read is EXACTLY a retrain on the union — no refit,
   * no approximation.
   *
   * Returns `(counts, labelStats)`: per-(label, token) occurrence
   * partials `(_lab, tok, c)` and per-label partials
   * `(_lab, tot, n_docs)`.
   */
  def naiveBayesFit(train: DataFrame, idCol: String, textCol: String,
                    labelCol: String): (DataFrame, DataFrame) = {
    val trTok = train.select(col(labelCol).as("_lab"),
      explode(split(col(textCol), " ")).as("tok"))
    val counts = trTok.groupBy("_lab", "tok").agg(count(lit(1)).as("c"))
    val labelStats = train.groupBy(col(labelCol).as("_lab"))
      .agg(sum(size(split(col(textCol), " ")).cast("long")).as("tot"),
        count(lit(1)).as("n_docs"))
    (counts, labelStats)
  }

  /**
   * The scoring half of [[naiveBayesClassify]]: consumes count
   * partials (fresh from [[naiveBayesFit]] or read back from the
   * stored model table) and classifies `test`. Partials are merged on
   * read (sum per key — replays of the same additive rows would
   * double-count, so writers keep the q201 append discipline); the
   * label set and per-label totals collect (bounded by label
   * cardinality), the vocabulary-keyed likelihood table pivots labels
   * WIDE, and scoring is ONE postings join + one doc-keyed aggregate.
   *
   * `vocabSize`: the training vocabulary |V| for add-one smoothing.
   * `None` (the one-shot-classify path) computes it from the partials
   * with one distinct-count pass; serving a STORED model should pass
   * the persisted value (`<table>_params`, written at save/append
   * time — see [[naiveBayesScoreStored]]) so every serve skips a full
   * scan of the standing count table.
   */
  def naiveBayesScoreFrom(countPartials: DataFrame, labelPartials: DataFrame,
                          test: DataFrame, idCol: String, textCol: String,
                          labelCol: String,
                          vocabSize: Option[Long] = None): DataFrame = {
    val counts = countPartials.groupBy("_lab", "tok")
      .agg(sum("c").as("c"))
    val stats = labelPartials.groupBy("_lab")
      .agg(sum("tot").as("tot"), sum("n_docs").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(stats.nonEmpty, "naiveBayesScoreFrom: empty label stats")
    val labels = stats.map(_._1)
    val totals = stats.map(s => s._1 -> s._2).toMap
    val priors = stats.map(s => s._1 -> s._3).toMap
    val nTrain = stats.map(_._3).sum
    val vocab = vocabSize.getOrElse(counts.select("tok").distinct().count())
    require(vocab > 0L, s"naiveBayesScoreFrom: vocab_size must be > 0 ($vocab)")
    // vocabulary-keyed likelihood table, labels pivoted wide via
    // conditional sums (deterministic column order = sorted labels)
    val wide = counts.groupBy("tok").agg(
      sum(when(col("_lab") === labels.head, col("c")).otherwise(0L))
        .as("_c0"),
      labels.tail.zipWithIndex.map { case (l, i) =>
        sum(when(col("_lab") === l, col("c")).otherwise(0L)).as(s"_c${i + 1}")
      }: _*)
    val teTok = test
      .select(col(idCol).as("_id"), explode(split(col(textCol), " ")).as("tok"))
      .groupBy("_id", "tok").agg(count(lit(1)).as("tf"))
    val scored = teTok.join(wide, "tok")
    val scoreAggs = labels.zipWithIndex.map { case (l, i) =>
      sum(col("tf").cast("double") *
        log((col(s"_c$i") + lit(1.0)) /
          lit((totals(l) + vocab).toDouble))).as(s"_s$i")
    }
    val perDoc = scored.groupBy("_id")
      .agg(scoreAggs.head, scoreAggs.tail: _*)
    val withPrior = labels.zipWithIndex.foldLeft(perDoc) { case (df, (l, i)) =>
      df.withColumn(s"_p$i",
        col(s"_s$i") + lit(math.log(priors(l).toDouble / nTrain)))
    }
    val packed = labels.indices.map(i =>
      struct(col(s"_p$i").as("s"), lit(-i).as("ni")))
    val best =
      if (packed.sizeIs == 1) packed.head else greatest(packed: _*)
    withPrior
      .withColumn("_best", best)
      .select(col("_id"),
        element_at(typedlit(labels.toSeq), (-col("_best.ni")) + 1).as("pred"),
        (round(col("_best.s"), 4) + lit(0.0)).as("score"))
      .join(test.select(col(idCol).as("_id"), col(labelCol)), "_id")
      .select(col("_id").as(idCol), col(labelCol), col("pred"), col("score"))
  }

  /**
   * Serve a STORED NB model ([[graft.sources.Layout.NaiveBayes]])
   * by table name: reads the count partials, the label partials, and
   * the one-row `<table>_params` `(vocab_size)` the layout derives —
   * so a serve is exactly one postings join + one doc-keyed aggregate,
   * with NO full pass over the standing count table to recover |V|
   * (the r13 verdict's wart: `distinct().count()` per serve is a
   * standing-table scan at 100-TB-model scale; |V| is a write-time
   * fact). Falls back to the distinct-count pass only if `_params` is
   * missing (a pre-r14 stored model).
   */
  def naiveBayesScoreStored(spark: org.apache.spark.sql.SparkSession,
                            modelTable: String, test: DataFrame,
                            idCol: String, textCol: String,
                            labelCol: String): DataFrame = {
    val paramsTable = Warehouse.sideTable(modelTable, Side.NbParams)
    val vocab =
      if (spark.catalog.tableExists(paramsTable))
        Some(spark.table(paramsTable).select("vocab_size")
          .head().getLong(0))
      else None
    naiveBayesScoreFrom(spark.table(modelTable),
      spark.table(Warehouse.sideTable(modelTable, Side.Labels)), test,
      idCol, textCol, labelCol, vocab)
  }
}
