package graft.operators

import graft.sources.{Layout, Side, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Extension query surface (VERDICT r01 items 5–7, 9): dedup operators,
 * remaining built-in inventory gaps, approx-vs-exact tolerance checks,
 * text analysis, and similarity search. Same contract as [[CoreQueries]]:
 * every oracle-checked entry ends in a total order with a unique
 * tiebreaker, rounds float aggregates, and aligns integer widths with
 * DuckDB (SURVEY.md §2.3 hash-match rules).
 *
 * Where a formula appears on both sides (lang-ID scores, fingerprints),
 * the oracle SQL is GENERATED from the same Scala constants, so the two
 * engines can't drift.
 */
object ExtQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // ---- generated lang-ID SQL fragments (single source of truth) -------

  private def occSql(marker: String): String = {
    val esc = marker.replace("'", "''")
    s"(length(text)-length(replace(text,'$esc','')))/${marker.length}"
  }
  private val scoreSqls: Seq[(String, String)] =
    TextAnalysis.LangMarkers.map { case (lang, ms) =>
      lang -> ms.map(occSql).mkString("(", " + ", ")")
    }
  private val predSql: String = {
    // CASE WHEN s0 >= greatest(s1..s4) THEN 'en' ... ELSE 'zh' END over
    // aliased scores s0..s4, mirroring TextAnalysis.predictLang exactly.
    val n = scoreSqls.size
    val whens = scoreSqls.zipWithIndex.dropRight(1).map { case ((lang, _), i) =>
      val rest = (i + 1 until n).map(j => s"s$j")
      val gmax = if (rest.size == 1) rest.head else s"greatest(${rest.mkString(",")})"
      s"WHEN s$i >= $gmax THEN '$lang'"
    }
    s"CASE ${whens.mkString(" ")} ELSE '${scoreSqls.last._1}' END"
  }

  private val cosSql: String =
    "list_sum(list_apply(list_zip(p.embedding, e.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (sqrt(list_sum(list_apply(p.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * sqrt(list_sum(list_apply(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))"

  /** [[cosSql]] generalized to arbitrary column references — the
    * q238/q240 oracles score against centroid and prefix-slice columns,
    * not just p/e embedding pairs. */
  private def cosSqlOn(a: String, b: String): String =
    s"list_sum(list_apply(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
      s"(sqrt(list_sum(list_apply($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * " +
      s"sqrt(list_sum(list_apply($b, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))"

  /** Shared q53/q83 oracle: the exact top-3 neighbor rows (q39's
    * ranking — rounded sim DESC, nn_id tiebreak) with the per-probe
    * recall floor as a literal TRUE. The data half pins the kNN values;
    * the floor half is the ANN contract. */
  private lazy val exactTop3FloorSql: String =
    s"WITH c AS (SELECT p.vec_id probe_id, e.vec_id nn_id, round($cosSql,4) sim " +
      "FROM embeddings p CROSS JOIN embeddings e WHERE p.vec_id < 5 AND e.vec_id <> p.vec_id) " +
      "SELECT probe_id, rn, nn_id, sim, true AS ok FROM " +
      "(SELECT probe_id, nn_id, sim, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, nn_id) rn FROM c) " +
      "WHERE rn <= 3 ORDER BY probe_id, rn"

  /** q232's twin: the exact top-3 restricted to the FILTERED candidate
    * set (even labels) — the floor the pre-filtered IVF probe must hit. */
  private lazy val filteredTop3FloorSql: String =
    s"WITH c AS (SELECT p.vec_id probe_id, e.vec_id nn_id, round($cosSql,4) sim " +
      "FROM embeddings p CROSS JOIN embeddings e " +
      "WHERE p.vec_id < 5 AND e.vec_id <> p.vec_id AND e.label % 2 = 0) " +
      "SELECT probe_id, rn, nn_id, sim, true AS ok FROM " +
      "(SELECT probe_id, nn_id, sim, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, nn_id) rn FROM c) " +
      "WHERE rn <= 3 ORDER BY probe_id, rn"

  /** q238 oracle: the full k-medians trajectory unrolled — seed
    * centroids (the k smallest vec_ids, contiguous from 0 on this
    * data, so label = vec_id), then per round an ASSIGN CTE (argmax
    * cosine, ties → smaller cluster — the q224 row_number rule) and an
    * UPDATE CTE (per-(cluster, dim) low median, the q224 selection
    * pattern), ending in the final ASSIGN. */
  private def kmedAssignCte(src: String, cents: String,
                            out: String): String = {
    val cosEC = cosSqlOn("e.embedding", "c.centroid")
    s"${out}s AS (SELECT e.vec_id, c.label, $cosEC AS cos " +
      s"FROM $src e CROSS JOIN $cents c), " +
      s"$out AS (SELECT vec_id, label AS cluster, cos FROM " +
      "(SELECT vec_id, label, cos, row_number() OVER " +
      s"(PARTITION BY vec_id ORDER BY cos DESC, label) rn FROM ${out}s) " +
      "WHERE rn = 1)"
  }
  private def kmedUpdateCte(src: String, assigned: String,
                            out: String): String =
    s"${out}ex AS (SELECT a.cluster, a.vec_id, " +
      "unnest([{'d': i, 'v': e.embedding[i]} for i in range(1, len(e.embedding)+1)], recursive := true) " +
      s"FROM $assigned a JOIN $src e USING (vec_id)), " +
      s"${out}rk AS (SELECT cluster, d, v, row_number() OVER " +
      "(PARTITION BY cluster, d ORDER BY v, vec_id) rn, " +
      s"count(*) OVER (PARTITION BY cluster, d) cnt FROM ${out}ex), " +
      s"$out AS (SELECT cluster AS label, list(v ORDER BY d) AS centroid " +
      s"FROM ${out}rk WHERE rn = (cnt+1)//2 GROUP BY cluster)"
  private def kmedRoundsCtes(src: String): String =
    (1 to KMediansIters).map(r =>
      kmedAssignCte(src, s"c${r - 1}", s"a$r") + ", " +
        kmedUpdateCte(src, s"a$r", s"c$r"))
      .mkString(", ")

  private lazy val kmediansOracleSql: String =
    s"WITH c0 AS (SELECT CAST(vec_id AS INT) AS label, embedding AS centroid " +
      s"FROM embeddings WHERE vec_id < $KMediansK), " +
      kmedRoundsCtes("embeddings") + ", " +
      kmedAssignCte("embeddings", s"c$KMediansIters", "af") +
      " SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, " +
      "round(cos, 4) + 0.0 AS cos FROM af ORDER BY vec_id"

  /** q245 oracle: the SAME trajectory run on the even half (seeds =
    * its k smallest ids 0,2,4,6 → labels vec_id//2), final centroids
    * assigning the ODD half — the fit-once / assign-forever read. */
  private lazy val kmedAssignOracleSql: String =
    "WITH ev AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0), " +
      "od AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1), " +
      s"c0 AS (SELECT CAST(vec_id // 2 AS INT) AS label, embedding AS centroid " +
      s"FROM ev WHERE vec_id < ${2 * KMediansK}), " +
      kmedRoundsCtes("ev") + ", " +
      kmedAssignCte("od", s"c$KMediansIters", "af") +
      " SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, " +
      "round(cos, 4) + 0.0 AS cos FROM af ORDER BY vec_id"

  /** q239 oracle: q111's BM25 CTEs cut at the pool depth, the exact
    * dense ranking (q39's rounded-sim rule, probe = vec 0), then the
    * integer micro-credit fusion. */
  private lazy val hybridRrfOracleSql: String = {
    val termList = SearchTerms.map(t => s"'$t'").mkString(", ")
    val cosQE = cosSqlOn("p.embedding", "e.embedding")
    s"WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
      "dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1), " +
      "st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl), " +
      s"tf AS (SELECT doc_id, token, count(*) AS tf FROM tok WHERE token IN ($termList) GROUP BY 1, 2), " +
      "df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1), " +
      "sc AS (SELECT tf.doc_id, round(sum(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) " +
      s"* tf.tf * ($Bm25K1 + 1) / (tf.tf + $Bm25K1 * (1 - $Bm25B + $Bm25B * dl.dl / st.avgdl))), 4) AS score " +
      "FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN st GROUP BY 1), " +
      "sp AS (SELECT doc_id, rank FROM (SELECT doc_id, row_number() OVER " +
      s"(ORDER BY score DESC, doc_id) AS rank FROM sc) WHERE rank <= $RrfPoolK), " +
      "q AS (SELECT embedding FROM embeddings WHERE vec_id = 0), " +
      "dn AS (SELECT doc_id, rank FROM (SELECT e.vec_id AS doc_id, " +
      s"row_number() OVER (ORDER BY round($cosQE, 4) DESC, e.vec_id) AS rank " +
      s"FROM embeddings e CROSS JOIN q p WHERE e.vec_id <> 0) WHERE rank <= $RrfPoolK), " +
      s"u AS (SELECT doc_id, 1000000 // ($RrfK + rank) AS credit FROM sp " +
      s"UNION ALL SELECT doc_id, 1000000 // ($RrfK + rank) FROM dn), " +
      "f AS (SELECT doc_id, CAST(sum(credit) AS BIGINT) AS rrf_micro, " +
      "CAST(count(*) AS BIGINT) AS n_rankers FROM u GROUP BY 1) " +
      "SELECT CAST(rn AS BIGINT) AS rn, doc_id, rrf_micro, n_rankers FROM " +
      "(SELECT doc_id, rrf_micro, n_rankers, row_number() OVER " +
      s"(ORDER BY rrf_micro DESC, doc_id) AS rn FROM f) WHERE rn <= $RrfTopK ORDER BY rn"
  }

  /** q240 oracle: the two-stage pipeline replayed verbatim — prefix
    * slice, rounded stage-1 rank, candidate cut, full-dim re-rank. */
  private lazy val matryoshkaOracleSql: String = {
    val cosPre = cosSqlOn("p.pre", "e.pre")
    val cosFull = cosSqlOn("p.embedding", "e.embedding")
    s"WITH pp AS (SELECT vec_id, embedding, embedding[1:$MatryoshkaPrefix] AS pre " +
      "FROM embeddings WHERE vec_id < 5), " +
      s"dd AS (SELECT vec_id, embedding[1:$MatryoshkaPrefix] AS pre FROM embeddings), " +
      s"s1 AS (SELECT p.vec_id AS probe_id, e.vec_id AS nn_id, round($cosPre, 4) AS sim_pre, " +
      s"row_number() OVER (PARTITION BY p.vec_id ORDER BY round($cosPre, 4) DESC, e.vec_id) AS prn " +
      "FROM pp p CROSS JOIN dd e WHERE e.vec_id <> p.vec_id), " +
      s"cand AS (SELECT probe_id, nn_id, sim_pre FROM s1 WHERE prn <= $MatryoshkaM), " +
      s"s2 AS (SELECT c.probe_id, c.nn_id, c.sim_pre, round($cosFull, 4) AS sim " +
      "FROM cand c JOIN embeddings p ON p.vec_id = c.probe_id JOIN embeddings e ON e.vec_id = c.nn_id) " +
      "SELECT probe_id, CAST(rn AS BIGINT) AS rn, nn_id, sim_pre, sim FROM " +
      "(SELECT probe_id, nn_id, sim_pre, sim, row_number() OVER " +
      "(PARTITION BY probe_id ORDER BY sim DESC, nn_id) AS rn FROM s2) " +
      "WHERE rn <= 3 ORDER BY probe_id, rn"
  }

  /** q241 oracle: multinomial NB replayed — per-(lang, token) train
    * counts, add-one smoothing over the train vocabulary, in-vocab
    * test postings only, ln-sum + prior, argmax with the lang-asc tie
    * (the Spark side's struct-greatest over sorted labels). */
  private lazy val nbClassifyOracleSql: String =
    "WITH tr AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0), " +
      "te AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 1), " +
      "trtok AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM tr), " +
      "c AS (SELECT lang, tok, count(*) AS c FROM trtok GROUP BY 1, 2), " +
      "tot AS (SELECT lang, sum(c) AS tot FROM c GROUP BY 1), " +
      "v AS (SELECT count(DISTINCT tok) AS v FROM c), " +
      "pr AS (SELECT lang, count(*) AS n FROM tr GROUP BY 1), " +
      "nt AS (SELECT count(*) AS n FROM tr), " +
      "vocab AS (SELECT DISTINCT tok FROM c), " +
      "tetok AS (SELECT doc_id, tok, count(*) AS tf FROM " +
      "(SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM te) GROUP BY 1, 2), " +
      "grid AS (SELECT t.doc_id, t.tf, l.lang, coalesce(cc.c, 0) AS c, l.tot " +
      "FROM tetok t JOIN vocab USING (tok) CROSS JOIN tot l " +
      "LEFT JOIN c cc ON cc.tok = t.tok AND cc.lang = l.lang), " +
      "sc AS (SELECT g.doc_id, g.lang, sum(g.tf * ln((g.c + 1.0) / (g.tot + v.v))) AS s " +
      "FROM grid g CROSS JOIN v GROUP BY 1, 2), " +
      "scp AS (SELECT sc.doc_id, sc.lang, sc.s + ln(CAST(pr.n AS DOUBLE) / nt.n) AS sp " +
      "FROM sc JOIN pr USING (lang) CROSS JOIN nt), " +
      "best AS (SELECT doc_id, lang AS pred, sp, row_number() OVER " +
      "(PARTITION BY doc_id ORDER BY sp DESC, lang) AS rn FROM scp) " +
      "SELECT te.doc_id, te.lang, b.pred, round(b.sp, 4) + 0.0 AS score " +
      "FROM te JOIN best b ON te.doc_id = b.doc_id AND b.rn = 1 ORDER BY te.doc_id"

  /** q243 oracle: the three decon axes' CTEs (q56's shingle law,
    * q199's capped-tf cosine, q237's raw-cosine threshold) union'd to
    * the per-doc flag report. */
  private lazy val deconSweepOracleSql: String = {
    val cosPE = cosSqlOn("p.embedding", "e.embedding")
    "WITH w AS (SELECT doc_id, string_split(text,' ') words FROM documents), " +
      "sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(words[i:i+4],' ') for i in range(1, len(words)-3)])) AS shingle FROM w WHERE len(words) >= 5), " +
      "pg AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20), " +
      "nh AS (SELECT DISTINCT s.doc_id FROM sh s JOIN pg USING (shingle) WHERE s.doc_id >= 20), " +
      "ctf AS (SELECT doc_id, tok, count(*) AS tf FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents WHERE doc_id >= 20) GROUP BY 1,2), " +
      "keep AS (SELECT tok FROM ctf GROUP BY tok HAVING count(*) <= 400), " +
      "itf AS (SELECT ctf.* FROM ctf JOIN keep USING (tok)), " +
      "inorm AS (SELECT doc_id, sum(tf*tf) AS n2 FROM itf GROUP BY 1), " +
      "vocab AS (SELECT DISTINCT tok FROM itf), " +
      "ptf0 AS (SELECT doc_id, tok, count(*) AS tf FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents WHERE doc_id < 20) GROUP BY 1,2), " +
      "ptf AS (SELECT ptf0.* FROM ptf0 JOIN vocab USING (tok)), " +
      "pnorm AS (SELECT doc_id, sum(tf*tf) AS n2 FROM ptf GROUP BY 1), " +
      "dots AS (SELECT p.doc_id AS probe_id, i.doc_id AS corpus_id, sum(p.tf*i.tf) AS dot FROM ptf p JOIN itf i USING (tok) GROUP BY 1,2), " +
      "lh AS (SELECT DISTINCT corpus_id AS doc_id FROM dots d JOIN pnorm pn ON d.probe_id=pn.doc_id JOIN inorm inn ON d.corpus_id=inn.doc_id " +
      "WHERE dot/sqrt(pn.n2*inn.n2) >= 0.8), " +
      s"smh AS (SELECT DISTINCT p.vec_id AS doc_id FROM embeddings p JOIN embeddings e ON p.vec_id >= 20 AND e.vec_id < 20 AND $cosPE >= 0.35), " +
      "u AS (SELECT doc_id FROM nh UNION SELECT doc_id FROM lh UNION SELECT doc_id FROM smh) " +
      "SELECT u.doc_id, d.lang, (nh.doc_id IS NOT NULL) AS ngram, " +
      "(lh.doc_id IS NOT NULL) AS lexical, (smh.doc_id IS NOT NULL) AS semantic, " +
      "CAST(CAST(nh.doc_id IS NOT NULL AS INT) + CAST(lh.doc_id IS NOT NULL AS INT) + CAST(smh.doc_id IS NOT NULL AS INT) AS BIGINT) AS n_methods " +
      "FROM u JOIN documents d USING (doc_id) " +
      "LEFT JOIN nh ON u.doc_id = nh.doc_id " +
      "LEFT JOIN lh ON u.doc_id = lh.doc_id " +
      "LEFT JOIN smh ON u.doc_id = smh.doc_id ORDER BY u.doc_id"
  }

  /** q244 LPA rounds — shared with the generated oracle unroll. */
  private val LpaIters: Int = 3

  /** q244 oracle: q26/q67's shingle-Jaccard pair CTEs feeding
    * `LpaIters` unrolled synchronous vote rounds (count desc, label
    * asc — the Spark side's struct-min rule). `sym` is MATERIALIZED:
    * every round reads it once more. */
  private lazy val lpaOracleSql: String = {
    val rounds = (1 to LpaIters).map { r =>
      s"f$r AS (SELECT s.x AS node, l.lbl, count(*) AS c FROM sym s JOIN l${r - 1} l ON s.y = l.node GROUP BY 1, 2), " +
        s"l$r AS (SELECT node, lbl FROM (SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) rn FROM f$r) WHERE rn = 1)"
    }.mkString(", ")
    s"WITH ${jaccardCtes(None)}, " +
      "pr AS (SELECT da, db FROM p0 JOIN cnt ca ON da=ca.doc_id JOIN cnt cb ON db=cb.doc_id " +
      "WHERE overlap*1.0/(ca.n+cb.n-overlap) >= 0.6), " +
      "sym AS MATERIALIZED (SELECT da AS x, db AS y FROM pr UNION ALL SELECT db, da FROM pr), " +
      "l0 AS (SELECT DISTINCT x AS node, x AS lbl FROM sym), " +
      rounds +
      s" SELECT node AS doc_id, CAST(lbl AS BIGINT) AS community FROM l$LpaIters ORDER BY doc_id"
  }

  /** q217 mixture budget (tokens the planned mixture must fill) —
    * shared with the generated oracle. α is fixed at 0.5 (sqrt):
    * IEEE-correctly-rounded in both engines, unlike pow(x, α). */
  private val MixBudgetTokens: Long = 1000000L

  /** q216 JL projection output dimension — a power of FOUR so the
    * ±1/√outDim Rademacher entries are exact dyadic 0.25 and the
    * generated SQL literals round-trip bit-identically. */
  private val JlDim: Int = 16

  /** q216 oracle fragment: the projected list expression, literals
    * generated from the SAME [[Similarity.jlMatrix]] values the
    * compiled projector closes over (one source, two engines). */
  private lazy val jlProjListSql: String =
    Similarity.jlMatrix(JlDim, 64).map { row =>
      val lits = row.map(_.toString).mkString(",")
      s"list_sum(list_apply(list_zip(embedding, [$lits]), x -> CAST(x[1] AS DOUBLE) * x[2]))"
    }.mkString("[", ", ", "]")

  /** q87 Apdex satisfied threshold (tolerating ≤ 4T, the standard
    * window) — single source for the Spark call AND the generated
    * oracle; ~p50 of the events value column, so every class has all
    * three populations. */
  private val ApdexT: Double = 50.0

  /** q98 segment width / q99 span width (words) and the q100 MAD
    * multiplier — shared between the Spark entries and their generated
    * oracles so the parameters cannot drift. 4 words keeps the synthetic
    * corpus non-degenerate at both SFs (measured: ~11% of sf0.01 and
    * ~18% of sf0.1 segment instances are cross-document duplicates). */
  private val SegWidth: Int = 4
  private val SpanN: Int = 4
  private val AnomalyK: Double = 3.0

  /** q234/q235 ExactSubstr anchor width (words) — 4 keeps the same
    * non-degenerate duplicate mass as SegWidth/SpanN (687 spans at
    * sf0.01, max merged run 93 words; 368/500 docs cut). */
  private val ExactSubstrK: Int = 4

  /** q236 DBSCAN ε (cosine) and minPts — probed against the real
    * embedding geometry (max pairwise cosine ≈ 0.51, q233's k-distance
    * knee): 0.35/3 yields 47 core / 85 border / 368 noise over 19
    * clusters at sf0.01 and a comparable mix at the other SFs; 0.4
    * left almost no cores, 0.3 merged nearly everything. */
  private val DbscanEps: Double = 0.35
  private val DbscanMinPts: Int = 3

  /** q238 k-medians cluster count / Lloyd rounds — 4 seeds spread far
    * enough on this geometry that no cluster empties, 2 rounds move
    * every centroid off its seed (the spec pins both edges). */
  private val KMediansK: Int = 4
  private val KMediansIters: Int = 2

  /** q239 RRF fusion: per-ranker pool depth, the standard k=60 damping
    * constant, and the fused page size — shared with the generated
    * oracle. */
  private val RrfPoolK: Int = 20
  private val RrfK: Int = 60
  private val RrfTopK: Int = 10

  /** q240 matryoshka retrieval: stage-1 prefix dimension (16 of 64 —
    * a 4× cheaper first pass) and the stage-1 candidate pool per
    * probe. m=20 recovered the exact full-dim top-3 for every probe at
    * every SF on this geometry (checked, not assumed — the two-stage
    * output is value-compared against the replayed pipeline, so a
    * recall miss would surface as a hash mismatch, not hide). */
  private val MatryoshkaPrefix: Int = 16
  private val MatryoshkaM: Int = 20

  /** q102 comparison-prefix length / edit threshold, and the q104
    * sorted-neighborhood key length / window — shared between the Spark
    * entries and their generated oracles so the parameters cannot
    * drift. Prefix 32 ≈ 5 words of this corpus; 8 edits separates
    * shared-boilerplate prefixes from unrelated ones. */
  private val EditPrefix: Int = 32
  private val EditMaxDist: Int = 8
  private val SnKeyLen: Int = 16
  private val SnWindow: Int = 3

  /** q108 PSI bin width — ~10 populated bins over the events value
    * range at every SF; shared with the generated oracle. */
  private val PsiBinWidth: Double = 50.0

  /** q109 Jaro-Winkler keep threshold (on the 4-dp-rounded sim). */
  private val JwMinSim: Double = 0.9

  /** q144 weighted-Jaccard keep threshold (on the exact ratio). */
  private val WjMinSim: Double = 0.8

  /** q110 fold count — shared with the generated oracle. */
  private val KFolds: Int = 5

  /** q111/q112 query terms (mid-df corpus vocabulary — each matches
    * ~80% of docs alone, all three together ~half, so both the ranked
    * and conjunctive results are data-bearing at every SF) and the
    * q111 BM25 shape parameters — shared with the generated oracles. */
  private val SearchTerms: Seq[String] = Seq("hash", "merge", "vector")
  private val Bm25K1: Double = 1.2
  private val Bm25B: Double = 0.75
  private val Bm25TopK: Int = 10

  /** q113 funnel stages (strictly ordered), q114 cohort bucket width
    * (µs/day), q116 path depth / board size — shared with the
    * generated oracles. */
  private val FunnelStages: Seq[String] = Seq("view", "click", "purchase")
  private val DayUs: Long = 86400000000L
  private val PathDepth: Int = 5
  private val PathTopK: Int = 20

  /** q118 PageRank iteration count / damping / board size, and the
    * q120 funnel conversion window (1 day, in µs) — shared with the
    * generated oracles. */
  private val PrIters: Int = 3
  private val PrDamping: Double = 0.85
  private val PrTopK: Int = 20
  private val FunnelGapUs: Long = DayUs

  /** q122 profiled columns (string + integer only: float min/max
    * STRINGIFY differently across engines) — the oracle's UNION ALL
    * branches generate from this list. */
  private val ProfileCols: Seq[String] = Seq("event_id", "event_type", "user_id")

  /** q130 anonymity floor — flags a real subset at every SF
    * ((lang, source) group sizes: 1–16 at sf0.01, 24–112 at sf0.1). */
  private val KAnonK: Long = 30L

  /** q160 per-lang vocabulary size (both engines rank (count desc,
    * token) — each lang has ≥ 50 distinct tokens at every SF, so the
    * set size is exactly N and the union is 2N − common). */
  private val VocabTopN: Int = 50

  /** q132 per-group sample size — below every lang's sf0.1 count,
    * above some sf0.01 ones, so both the cap and the keep-all branch
    * are exercised. */
  private val GroupSampleK: Int = 40

  /** q131 E2LSH config — w sized at the measured NN-distance scale
    * (exact NN ≈ 1.12, median stranger ≈ 1.41 on this corpus); 16
    * tables × 4 projections holds the ≥2-of-3 floor at both oracle
    * SFs (16 tables missed one sf0.01 probe — its NN sits at 1.17,
    * the far tail). */
  private val L2Tables: Int = 32
  private val L2Bits: Int = 4
  private val L2W: Double = 2.0

  /** q131 oracle: exact Euclidean top-3 rows + the recall floor as a
    * literal — the L2 twin of [[exactTop3FloorSql]]. */
  private lazy val exactTop3L2FloorSql: String = {
    val l2 = "sqrt(list_sum(list_apply(list_zip(p.embedding, e.embedding), " +
      "x -> pow(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE), 2))))"
    s"WITH c AS (SELECT p.vec_id probe_id, e.vec_id nn_id, round($l2, 4) dist " +
      "FROM embeddings p CROSS JOIN embeddings e WHERE p.vec_id < 5 AND e.vec_id <> p.vec_id) " +
      "SELECT probe_id, rn, nn_id, dist, true AS ok FROM " +
      "(SELECT probe_id, nn_id, dist, row_number() OVER (PARTITION BY probe_id ORDER BY dist, nn_id) rn FROM c) " +
      "WHERE rn <= 3 ORDER BY probe_id, rn"
  }

  /** The events table mapped onto the wide slow-log schema (digest,
    * fingerprint, query_time, rate_limit, rows, user, db, ts, query,
    * offset), so the QAN report operators — the Report CLI's code
    * paths ([[Qan.profile]]/[[Qan.sparkline]]/[[Qan.loadByDbUser]]) —
    * run verbatim over driver testdata and oracle-check against the
    * identical DuckDB projection ([[qanWideSql]]). Synthetic columns
    * are pure `event_id`/`user_id` arithmetic: deterministic in both
    * engines, with rate_limit hitting 0 to exercise the
    * `greatest(rate_limit, 1)` sampling floor. */
  private def qanWide(s: SparkSession, d: String): DataFrame =
    CoreQueries.events(s, d).select(
      col("event_type").as("digest"),
      col("event_type").as("fingerprint"),
      col("value").as("query_time"),
      (col("event_id") % 5).as("rate_limit"),
      (col("event_id") % 100).as("rows_examined"),
      (col("event_id") % 10).as("rows_sent"),
      concat(lit("u"), col("user_id") % 7).as("user"),
      concat(lit("db"), col("user_id") % 3).as("db"),
      col("ts"),
      concat(lit("ev-"), col("event_id")).as("query"),
      col("event_id").as("offset"))

  /** DuckDB twin of [[qanWide]] — a CTE fragment prepended to the QAN
    * oracles. One definition per column pair, adjacent in source, so
    * the mapping cannot drift. */
  private val qanWideSql: String =
    "wide AS (SELECT event_type AS digest, event_type AS fingerprint, " +
      "value AS query_time, event_id % 5 AS rate_limit, " +
      "event_id % 100 AS rows_examined, event_id % 10 AS rows_sent, " +
      "'u' || (user_id % 7) AS \"user\", 'db' || (user_id % 3) AS db, " +
      "ts, 'ev-' || event_id AS query, event_id AS \"offset\" FROM events)"

  /** q72 per-lang keep rates + fallback — the single source for the
    * Spark-side stratified filter AND the generated oracle CASE. */
  private val SampleRates: Seq[(String, Double)] =
    Seq("en" -> 0.5, "fr" -> 0.25, "zh" -> 0.1)
  private val SampleDefaultRate: Double = 0.75

  /** Shared CTE chain for every shingle-Jaccard oracle (q26/q40/q52/q67):
    * docs → distinct 3-gram shingles (with the optional DF cap applied
    * before counts AND overlap, matching ngramJaccardPairs) → per-doc
    * counts → candidate pair overlaps. ONE definition so the entries
    * cannot drift structurally. */
  private def jaccardCtes(maxShingleDf: Option[Long],
                          source: String = "documents"): String = {
    val sh0 = "SELECT doc_id, unnest(list_distinct([array_to_string(words[i:i+2],' ') for i in range(1, len(words)-1)])) AS shingle FROM docs WHERE len(words) >= 3"
    val shingleCte = maxShingleDf match {
      case None => s"sh AS ($sh0)"
      case Some(cap) =>
        s"sh0 AS ($sh0), keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= $cap), sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle))"
    }
    s"docs AS (SELECT doc_id, string_split(text,' ') words FROM $source), " +
      s"$shingleCte, " +
      "cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1), " +
      "p0 AS (SELECT a.doc_id da, b.doc_id db, count(*) overlap FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id<b.doc_id GROUP BY 1,2)"
  }

  private def jaccardSql(maxShingleDf: Option[Long]): String =
    s"WITH ${jaccardCtes(maxShingleDf)} " +
      "SELECT da, db, round(overlap*1.0/(ca.n+cb.n-overlap),4) AS jac " +
      "FROM p0 JOIN cnt ca ON da=ca.doc_id JOIN cnt cb ON db=cb.doc_id " +
      "WHERE overlap*1.0/(ca.n+cb.n-overlap) >= 0.6 " +
      "ORDER BY da, db"
  private val jaccardPairsSql: String = jaccardSql(None)

  /** q254 winnowing constants — one source for the Spark entry AND the
    * generated oracle (gram width, window width, and the 40+20-bit
    * pack layout of [[Dedup.winnowingFingerprints]]). */
  private val WinnowK = 3
  private val WinnowW = 4
  /** q255 match knobs: hashes shared by more than WinnowMaxDf docs are
    * screened (hot-gram skew, the q26 df-cap discipline — part of the
    * contract, mirrored in the oracle); pairs need >= WinnowMinShared
    * surviving shared hashes. */
  private val WinnowMaxDf = 200L
  private val WinnowMinShared = 3L

  /** q260 per-domain document cap and q261 near-dup verify threshold —
    * one source for the Spark entries AND the generated oracles. */
  private val DomainCapK = 15
  private val DomainDupJac = 0.6

  /** q265 blocklist fixture (r16: the recipe's governance gate) —
    * three of the 45 synthesized registered domains, banned at parse
    * time in the Spark entry AND the oracle. */
  private val BlockedDomains = Seq("site0.com", "site2.co.uk", "site4.de")

  /** q271 robots fixture — per-domain path-prefix disallows of each
    * interesting shape: a narrow prefix (`/p/1` also swallows
    * /p/10–/p/19), a whole-domain `/`, and a rule on a domain whose
    * docs never match. One source for the entry AND the oracle. */
  private val RobotsRules = Seq(
    ("site1.com", "/p/1"), ("site3.co.uk", "/"), ("site2.net", "/p/999"))

  /** q264 per-domain admission cap — the lifetime quota each
    * registered domain gets across ingest history (8 bites at every
    * oracle SF: partial admission at sf0.001/0.01, hard rejection with
    * a nonzero survivor set at sf0.1). */
  private val DomainCapAdmit = 8L

  /** q262 segment-winnowing knobs: 16-word stride segments (≫ k+w−1=6,
    * the fixed-stride alignment caveat), pairs need ≥ 2 shared screened
    * hashes at SEGMENT grain (segments carry ~4–5 selections each vs a
    * whole doc's ~30, so the whole-doc threshold of 3 would starve). */
  private val SegWinnowWords = 16
  private val SegWinnowMinShared = 2L

  /** Shared URL-synthesis + parse + registered-domain CTE chain for the
    * q259–q261 oracles — the DuckDB twin of [[Url.syntheticUrl]] +
    * [[Url.urlParts]] (md5 16-bit hex decode, regex parse, eTLD+1
    * heuristic). Yields `pr (doc_id, lang, n_chars, text, url, host,
    * url_path, q_param, reg_domain)`. Keep in lockstep with Url.scala —
    * any drift here fails three hash oracles at once. */
  private def urlCtes(source: String = "documents"): String =
    "u AS (SELECT doc_id, lang, n_chars, text, 'https://' || " +
      "['www.','news.','blog.',''][h % 4 + 1] || 'site' || " +
      "CAST(h % 5 AS VARCHAR) || '.' || " +
      "['com','org','net','io','de','co.uk','com.au','ac.uk','edu.au'][h % 9 + 1] || " +
      "(CASE WHEN h % 11 = 0 THEN ':8080' ELSE '' END) || '/p/' || " +
      "CAST(doc_id % 100 AS VARCHAR) || " +
      "(CASE WHEN h % 3 = 0 THEN '?q=' || lang ELSE '' END) AS url " +
      "FROM (SELECT doc_id, lang, n_chars, text, " +
      "CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS UBIGINT) AS BIGINT) AS h " +
      s"FROM $source)), " +
      "pu AS (SELECT *, regexp_extract(url, '^https://([^/:?#]+)', 1) AS host, " +
      "regexp_extract(url, '^https://[^/?#]*(/[^?#]*)', 1) AS url_path, " +
      "nullif(regexp_extract(url, '[?&]q=([^&#]*)', 1), '') AS q_param FROM u), " +
      "pd AS (SELECT *, string_split(host, '.') AS ls, " +
      "len(string_split(host, '.')) AS nl FROM pu), " +
      "pr AS (SELECT doc_id, lang, n_chars, text, url, host, url_path, q_param, " +
      "CASE WHEN nl <= 1 THEN host " +
      "WHEN nl >= 3 AND length(ls[-1]) = 2 AND ls[-2] IN " +
      "('co','com','net','org','gov','ac','edu') " +
      "THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1] " +
      "ELSE ls[-2] || '.' || ls[-1] END AS reg_domain FROM pd)"

  /** Synthetic-PII CTE chain — the DuckDB twin of
    * [[Pii.syntheticPiiText]]'s derivation (same md5 hash pair, same
    * piece formats, same planting mods). Yields `p (doc_id, lang,
    * dirty)`. */
  private def piiCtes(source: String = "documents"): String = {
    def h16(off: Int) =
      s"CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),$off,4)) AS UBIGINT) AS BIGINT)"
    s"b AS (SELECT doc_id, lang, text, ${h16(1)} AS h, ${h16(5)} AS h2 FROM $source), " +
      "p AS (SELECT doc_id, lang, text || " +
      "(CASE WHEN h % 2 = 0 THEN ' user' || CAST(doc_id % 1000 AS VARCHAR) || " +
      "'@mail' || CAST(h % 5 AS VARCHAR) || '.example.com' ELSE '' END) || " +
      "(CASE WHEN h % 3 = 0 THEN ' ip ' || CAST(h % 200 AS VARCHAR) || '.' || " +
      "CAST(h2 % 256 AS VARCHAR) || '.' || CAST(doc_id % 256 AS VARCHAR) || '.' || " +
      "CAST(h % 254 + 1 AS VARCHAR) " +
      "WHEN h % 3 = 1 THEN ' ip 999.' || CAST(h % 90 + 10 AS VARCHAR) || '.' || " +
      "CAST(h2 % 90 + 10 AS VARCHAR) || '.1' ELSE '' END) || " +
      "(CASE WHEN h2 % 2 = 0 THEN ' tel 555-' || CAST(h % 900 + 100 AS VARCHAR) || " +
      "'-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END) || " +
      "(CASE WHEN h2 % 3 = 0 THEN ' id ' || CAST(h2 % 900 + 100 AS VARCHAR) || '-' || " +
      "CAST(h % 89 + 10 AS VARCHAR) || '-' || CAST(h2 % 9000 + 1000 AS VARCHAR) ELSE '' END) || " +
      "' card 4' || lpad(CAST(h % 100000 AS VARCHAR), 5, '0') || " +
      "lpad(CAST(h2 % 100000 AS VARCHAR), 5, '0') || " +
      "lpad(CAST(doc_id % 100000 AS VARCHAR), 5, '0') || ' end' AS dirty FROM b)"
  }

  /** [[graft.operators.Pipeline.spanCorrupt]]'s DuckDB twin, generated
    * for any (block, denom) so the q280 mixture's R/X branches share
    * one derivation with q279. Yields
    * `(doc_id, n_spans, input, target)` over `srcSql`. */
  private def spanCorruptSql(block: Int, denom: Int,
                             srcSql: String): String =
    "SELECT doc_id, CAST(len(corr) AS BIGINT) AS n_spans, " +
      "array_to_string(flatten([CASE WHEN list_contains(corr, b) " +
      "THEN ['<extra_id_' || CAST(list_position(corr, b) - 1 AS VARCHAR) || '>'] " +
      s"ELSE words[$block*b+1 : $block*b+$block] END for b in range(nb)]), ' ') AS input, " +
      "coalesce(array_to_string(flatten([['<extra_id_' || CAST(k AS VARCHAR) || '>'] || " +
      s"words[$block*corr[k+1]+1 : $block*corr[k+1]+$block] for k in range(len(corr))]), ' '), '') AS target " +
      "FROM (SELECT doc_id, words, nb, [b for b in range(nb) if " +
      "CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)),1,4)) AS UBIGINT) AS BIGINT) " +
      s"% $denom = 0] AS corr " +
      s"FROM (SELECT doc_id, words, (len(words) + ${block - 1}) // $block AS nb " +
      s"FROM (SELECT doc_id, string_split(text, ' ') AS words FROM $srcSql)))"

  /** The q280 UL2 mixture frame (doc_id, mode, n_spans, input,
    * target) — shared by q280 and the q282 packing capstone. */
  private def ul2Mixture(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val m = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast("long"), lit(3))
    val r = Pipeline.spanCorrupt(docs.filter(m === 0), "doc_id", "text")
      .select(col("doc_id"), lit("r").as("mode"), col("n_spans"),
        col("input"), col("target"))
    val x = Pipeline.spanCorrupt(docs.filter(m === 1), "doc_id", "text",
        block = 8, denom = 3)
      .select(col("doc_id"), lit("x").as("mode"), col("n_spans"),
        col("input"), col("target"))
    val p = Pipeline.prefixLmSplit(docs.filter(m === 2), "doc_id", "text")
      .select(col("doc_id"), lit("s").as("mode"), lit(0L).as("n_spans"),
        col("input"), col("target"))
    r.unionByName(x).unionByName(p)
  }

  /** The q280 UL2-mixture SELECT (no ORDER BY) — shared by q280 and
    * the q282 packing capstone so the two oracles read one derivation. */
  private lazy val ul2MixtureSql: String = {
    val hm = "CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS UBIGINT) AS BIGINT) % 3"
    def src(mode: Int) = s"(SELECT * FROM documents WHERE $hm = $mode)"
    s"WITH rr AS (${spanCorruptSql(3, 6, src(0))}), " +
      s"xx AS (${spanCorruptSql(8, 3, src(1))}), " +
      "ss AS (SELECT doc_id, CAST(0 AS BIGINT) AS n_spans, " +
      "array_to_string(words[1:k], ' ') AS input, " +
      "coalesce(array_to_string(words[k+1:len(words)], ' '), '') AS target " +
      "FROM (SELECT doc_id, words, greatest((len(words) * 3) // 4, 1) AS k " +
      s"FROM (SELECT doc_id, string_split(text, ' ') AS words FROM ${src(2)}))) " +
      "SELECT doc_id, 'r' AS mode, n_spans, input, target FROM rr " +
      "UNION ALL SELECT doc_id, 'x', n_spans, input, target FROM xx " +
      "UNION ALL SELECT doc_id, 's', n_spans, input, target FROM ss"
  }

  /** q281 policy-gate knobs — shared by the entry and (via the spec)
    * the axis's documentation; thresholds chosen so BOTH reject
    * reasons fire on the planted corpus at every oracle SF. */
  private val PolicyMaxPii = 2L
  private val PolicyMinQuality = 0.5

  /** Per-class non-overlapping match count in DuckDB. */
  private def piiCountSql(cls: String): String = {
    val pat = Pii.Classes.find(_._1 == cls).get._2
    s"len(regexp_extract_all(dirty, '$pat'))"
  }

  /** Per-source winnowing-selection CTE chain (grams → 40-bit packed
    * hashes → window min → distinct screened per-doc hash sets) with a
    * name prefix, so q257 can instantiate it once per corpus slice.
    * Yields `<p>k (doc_id, h)`. */
  private def winnowSelCtes(source: String, p: String): String =
    s"${p}docs AS (SELECT doc_id, string_split(text,' ') words FROM $source), " +
      s"${p}g AS (SELECT doc_id, unnest([{'pos': i-1, 'gram': array_to_string(words[i:i+${WinnowK - 1}],' ')} for i in range(1, len(words)-${WinnowK - 1}+1)], recursive := true) FROM ${p}docs WHERE len(words) >= $WinnowK), " +
      s"${p}p AS (SELECT doc_id, pos, CAST(CAST(concat('0x', substr(md5(gram),1,10)) AS UBIGINT) AS BIGINT)*1048576 + (1048575 - pos) AS pack FROM ${p}g), " +
      s"${p}sw AS (SELECT doc_id, pos, min(pack) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS sel FROM ${p}p), " +
      s"${p}selh AS (SELECT DISTINCT doc_id, sel // 1048576 AS h FROM ${p}sw WHERE pos >= ${WinnowW - 1}), " +
      s"${p}rare AS (SELECT h FROM ${p}selh GROUP BY h HAVING count(*) <= $WinnowMaxDf), " +
      s"${p}k AS (SELECT doc_id, h FROM ${p}selh JOIN ${p}rare USING (h))"

  /** q255's winnowing-match SQL (the q254 chain + per-doc distinct
    * hash sets, df screen, self-join, pair threshold) — shared
    * VERBATIM with q256 (pairs from the stored bucketed selection ≡
    * the direct run). */
  private lazy val winnowPairsOracleSql: String =
    s"WITH docs AS (SELECT doc_id, string_split(text,' ') words FROM documents), " +
      s"g AS (SELECT doc_id, unnest([{'pos': i-1, 'gram': array_to_string(words[i:i+${WinnowK - 1}],' ')} for i in range(1, len(words)-${WinnowK - 1}+1)], recursive := true) FROM docs WHERE len(words) >= $WinnowK), " +
      "p AS (SELECT doc_id, pos, CAST(CAST(concat('0x', substr(md5(gram),1,10)) AS UBIGINT) AS BIGINT)*1048576 + (1048575 - pos) AS pack FROM g), " +
      s"sw AS (SELECT doc_id, pos, min(pack) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS sel FROM p), " +
      s"selh AS (SELECT DISTINCT doc_id, sel // 1048576 AS h FROM sw WHERE pos >= ${WinnowW - 1}), " +
      s"rare AS (SELECT h FROM selh GROUP BY h HAVING count(*) <= $WinnowMaxDf), " +
      "k AS (SELECT doc_id, h FROM selh JOIN rare USING (h)) " +
      "SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_shared " +
      "FROM k a JOIN k b ON a.h = b.h AND a.doc_id < b.doc_id " +
      s"GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared ORDER BY da, db"

  /** q114's cohort-triangle SQL (distinct (user, day) activity joined
    * to min-day cohorts) — shared VERBATIM with q253 (triangle from
    * stored activity partials ≡ event-level run). */
  private lazy val retentionOracleSql: String =
    s"WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS b FROM events), " +
      "c AS (SELECT user_id, min(b) AS cohort FROM a GROUP BY 1) " +
      "SELECT c.cohort, a.b - c.cohort AS day_offset, count(*) AS n_entities " +
      "FROM a JOIN c USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2"

  /** q113's min-after-previous funnel CTE chain (epoch-µs, q88's time
    * rule) — shared VERBATIM with q252 (streamed log rollup ≡ batch
    * funnel over an in-order replay). */
  private lazy val funnelOracleSql: String = {
    val Seq(s1, s2, s3) = FunnelStages
    "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events), " +
      s"f1 AS (SELECT user_id, min(us) AS t FROM e WHERE event_type = '$s1' GROUP BY 1), " +
      s"f2 AS (SELECT e.user_id, min(us) AS t FROM e JOIN f1 USING (user_id) WHERE event_type = '$s2' AND us > f1.t GROUP BY 1), " +
      s"f3 AS (SELECT e.user_id, min(us) AS t FROM e JOIN f2 USING (user_id) WHERE event_type = '$s3' AND us > f2.t GROUP BY 1) " +
      s"SELECT * FROM (SELECT CAST(1 AS BIGINT) AS stage_ord, '$s1' AS stage, (SELECT count(*) FROM f1) AS n_entities " +
      s"UNION ALL SELECT 2, '$s2', (SELECT count(*) FROM f2) " +
      s"UNION ALL SELECT 3, '$s3', (SELECT count(*) FROM f3)) ORDER BY stage_ord"
  }

  /** DuckDB twin of Dedup.simHashHexAgg — generated from the SAME shared
    * index constants (Dedup.SimHashBitDigit / SimHashDigitBits), so the
    * two engines cannot drift structurally. */
  /** Per-doc hex-SimHash CTE chain (toks → v → f(doc_id, sh)), shared by
    * the q42 aggregate oracle and the q75 banded-pair oracle. */
  private val simHashDocCtes: String = {
    val votes = Dedup.SimHashBitDigit.zipWithIndex.map {
      case ((digitPos, mask), b) =>
        s"sum(CASE WHEN ((strpos('0123456789abcdef', substr(h,$digitPos,1))-1) & $mask) != 0 THEN 1 ELSE -1 END) v$b"
    }
    val digits = Dedup.SimHashDigitBits.map { bits =>
      val terms = bits.zipWithIndex.map { case (b, j) =>
        s"(CASE WHEN v$b > 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      s"substr('0123456789abcdef', ($terms) + 1, 1)"
    }
    "toks AS (SELECT doc_id, md5(unnest(string_split(text,' '))) h FROM documents), " +
      s"v AS (SELECT doc_id, ${votes.mkString(", ")} FROM toks GROUP BY doc_id), " +
      s"f AS (SELECT doc_id, ${digits.mkString(" || ")} AS sh FROM v)"
  }

  /** Transitive-closure CTE chain over the q26 pair formulation (pairs →
    * edges → recursive reach) — shared by the q67 cluster oracle and the
    * q80 applied-dedup oracle. Callers prefix `WITH RECURSIVE`. */
  private def dedupClosureCtesFrom(source: String): String =
    s"${jaccardCtes(None, source)}, " +
      "pairs AS (SELECT da, db FROM p0 JOIN cnt ca ON da=ca.doc_id JOIN cnt cb ON db=cb.doc_id WHERE overlap*1.0/(ca.n+cb.n-overlap) >= 0.6), " +
      "edges AS (SELECT da x, db y FROM pairs UNION ALL SELECT db, da FROM pairs), " +
      "reach(node, lbl) AS (SELECT x, x FROM (SELECT DISTINCT x FROM edges) t UNION SELECT e.x, r.lbl FROM edges e JOIN reach r ON e.y = r.node)"

  private lazy val dedupClosureCtes: String = dedupClosureCtesFrom("documents")

  /** DuckDB twin of TextAnalysis.qualityScore — generated from the same
    * constants (stopword list, punct class, weights), shared by the q82
    * aggregate oracle and the q90 pipeline oracle. */
  private lazy val qualityScoreSql: String = {
    val stopList = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
    val wcSql = "(length(text)-length(replace(text,' ',''))+1)"
    val stopSql = s"len(list_filter(string_split(text,' '), t -> t IN ($stopList)))"
    val punctSql = s"(length(text) - length(regexp_replace(text, '${TextAnalysis.PunctClass}', '', 'g')))"
    s"round(0.4 * $stopSql / CAST($wcSql AS DOUBLE) + 0.3 * (1.0 - $punctSql / CAST(length(text) AS DOUBLE)) + 0.3 * least(1.0, $wcSql / 100.0), 4)"
  }

  private val simHashHexSql: String =
    s"WITH $simHashDocCtes " +
      "SELECT d.lang, count(DISTINCT f.sh) AS n_distinct, min(f.sh) AS min_sh, count(*) AS cnt " +
      "FROM f JOIN documents d USING (doc_id) GROUP BY d.lang ORDER BY d.lang"

  private val fpSql: String =
    "list_reduce(list_prepend(CAST(0 AS BIGINT), [ascii(w)+length(w) for w in string_split(text,' ')]), (a,b) -> (a*31+b) % 1000000007)"

  /** Deterministic total-order sort key for min_by/max_by over (value,
    * event_id). The value is shifted by +1e9 before fixed-width printing
    * so the lexicographic order equals numeric order for ANY value in
    * (-1e9, 9e9) — a bare `%012.2f` inverts for negatives. Identical
    * printf semantics in Spark's format_string and DuckDB's printf. */
  private val sortKeyFmt = "%020.4f|%012d"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- dedup ---------------------------------------------------------
    "q25_dedup_rows" -> ((s, d) =>
      Dedup.exactDedup(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // Exact Jaccard with the cost-based strategy choice (round-11): a
    // one-row shingle-skew aggregate dispatches direct-blocking vs
    // prefix-filter — identical exact output either way, so the oracle
    // is unchanged; on this uniform corpus the statistic picks direct.
    "q26_jaccard_pairs" -> ((s, d) =>
      Dedup.jaccardPairsAuto(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = 0.6)
        .orderBy("da", "db")),

    // MinHash-LSH fuzzy dedup THROUGH the at-rest index (the q75
    // pattern, closing round 10's one missing index family): bands +
    // shingles are persisted bucketed (Layout.minHash) and
    // the banded self-join + exact-Jaccard verify consume the STORED
    // tables — the band join reads both sides pre-distributed on `key`,
    // and future probes (q40b) never re-sign the corpus. Output (and
    // oracle) unchanged vs the direct path.
    "q40_minhash_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // one shingle pass feeds BOTH index writes (bands derive from the
      // persisted frame; the two saveAsTable actions would otherwise
      // each re-shingle the corpus)
      val sh = Dedup.shingles(docs, "doc_id", "text", n = 3).persist()
      try Warehouse.save(Layout.minHash(), "graft_bench_minhash_q40",
        Dedup.minHashBandFrameFromShingles(sh, "doc_id"), sh)
      finally sh.unpersist()
      storedIndexOwner.put("graft_bench_minhash_q40", d)
      Dedup.minHashDedupPairsFrom(
          s.table("graft_bench_minhash_q40"),
          s.table(Warehouse.sideTable("graft_bench_minhash_q40", Side.Shingles)),
          "doc_id")
        .orderBy("da", "db")
    }),

    // -- built-in inventory gaps --------------------------------------
    "q27_arg_minmax" -> ((s, d) => {
      val key = format_string(sortKeyFmt, col("value") + 1e9, col("event_id"))
      CoreQueries.events(s, d)
        .groupBy("event_type")
        .agg(min_by(col("event_id"), key).as("lo_id"),
          max_by(col("event_id"), key).as("hi_id"),
          count(lit(1)).as("cnt"))
        .orderBy("event_type")
    }),

    "q28_cube" -> ((s, d) =>
      t(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 4).as("sq"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    "q29_except" -> ((s, d) =>
      t(s, d, "customer").select("c_custkey")
        .except(t(s, d, "orders").select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey")),

    "q30_union_counts" -> ((s, d) =>
      t(s, d, "customer").select(col("c_custkey").as("k"))
        .unionAll(t(s, d, "orders").select(col("o_custkey").as("k")))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .orderBy("k")),

    "q31_explode_tokens" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(20)),

    "q32_map_fns" -> ((s, d) => {
      val kv = element_at(
        from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.IntegerType)), "k")
      CoreQueries.events(s, d)
        .select(col("event_type"), kv.as("kv"))
        .groupBy("event_type")
        .agg(max("kv").as("mx"), min("kv").as("mn"), count(lit(1)).as("cnt"))
        .orderBy("event_type")
    }),

    "q33_hash_digest" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy("lang")
        .agg(countDistinct(upper(substring(md5(col("text")), 1, 16)))
            .as("n_digests"),
          count(lit(1)).as("cnt"))
        .orderBy("lang")),

    // -- approx siblings, verified within tolerance (VERDICT item 9) ---
    // HLL and exact distinct computed in SEPARATE aggregations: combined,
    // Catalyst's distinct-expand plan materializes one 2^14-register HLL
    // sketch per (type, user) group — ~GBs of merge traffic for nothing.
    // Split, each agg is single-level; the join is 5 rows.
    "q34_approx_distinct" -> ((s, d) => {
      val ev = CoreQueries.events(s, d)
      val apx = ev.groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.01).as("apx"))
      val ex = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("ex"))
      apx.join(ex, "event_type")
        .select(col("event_type"),
          (abs(col("apx") - col("ex")) <= col("ex") * 0.05).as("ok"))
        .orderBy("event_type")
    }),

    "q35_approx_quantile" -> ((s, d) =>
      CoreQueries.events(s, d)
        .groupBy("event_type")
        .agg(percentile_approx(col("value"), lit(0.95), lit(10000)).as("apx"),
          percentile(col("value"), lit(0.95)).as("ex"))
        .select(col("event_type"),
          (abs(col("apx") - col("ex")) <= greatest(col("ex") * 0.05, lit(0.01)))
            .as("ok"))
        .orderBy("event_type")),

    // -- text analysis -------------------------------------------------
    "q36_lang_id" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang"), TextAnalysis.predictLang(col("text")).as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "pred")),

    "q37_quality" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang"), TextAnalysis.qualityBucket(col("text")).as("bucket"),
          col("text"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("cnt"),
          round(avg(length(col("text"))), 4).as("avg_len"))
        .orderBy("lang", "bucket")),

    "q38_token_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tok"),
          TextAnalysis.rollingFingerprint(col("text")).as("fp"))
        .groupBy("lang")
        .agg(sum("n_tok").as("total_tokens"),
          countDistinct(col("fp")).as("n_fp"),
          min("fp").as("min_fp"))
        .orderBy("lang")),

    // -- similarity search ---------------------------------------------
    "q39_knn_batch" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.knnBatch(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 3)
        .select("probe_id", "nn_id", "sim", "rn")
        .orderBy("probe_id", "rn")
    }),

    // Sign-LSH ANN, tolerance-as-contract (q53/q83 pattern): bucket
    // pruning makes recall < 1 by design, so the CONTRACT is a per-probe
    // recall floor vs the exact knnBatch — ok = at least 2 of the exact
    // top-3 survive the bucket join + re-rank. Measured per-probe hit
    // counts across configs at BOTH oracle SFs before asserting: 32
    // tables x 5 bits recalls all 3/3 for every probe (500 and 2000
    // vectors), so the >=2 floor holds with a one-hit margin; the
    // round-5 default (8 tables x 8 bits) left buckets near-empty and
    // recall near zero. Neighbor identities are additionally covered by
    // the scalatest recall spec.
    "q41_ann_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      val exact = Similarity.knnBatch(emb, probes, "vec_id", "embedding", k = 3)
        .select(col("probe_id"), col("rn"), col("nn_id"), col("sim"))
        // the exact top-3 frame is read twice (recall-hit join + the
        // emitted rows); one 15-row materialization instead of two
        // full-corpus cosine scans (r16)
        .transform(Materialize(_))
      // tables=32, bits=5: the measured-recall config from the comment
      // above — keep these literals adjacent so contract and code can't
      // drift (round-6 broke the build wiring this to a phantom helper).
      val ann = Similarity.annCosineTopK(emb, probes, "vec_id", "embedding",
          k = 3, tables = 32, bits = 5)
        .select(col("probe_id"), col("nn_id"))
      val hits = exact.join(ann, Seq("probe_id", "nn_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("hits"))
      // data-bearing since round 10 (q53/q83 pattern): emit the exact
      // top-3 rows DuckDB re-ranks, keep the >=2-of-3 floor as `ok`
      exact.join(hits, Seq("probe_id"), "left")
        .select(col("probe_id"), col("rn"), col("nn_id"), col("sim"),
          (coalesce(col("hits"), lit(0L)) >= 2).as("ok"))
        .orderBy("probe_id", "rn")
    }),

    // SimHash fingerprints, oracle-checked end-to-end: the md5-derived
    // hex variant is expressible in BOTH engines, so min_sh proves the
    // actual fingerprint VALUES match (not just their counts). The
    // xxhash64 formulations (simHash64 / simHash64Agg) remain the speed
    // path, proven equal to each other in the scalatest suite.
    "q42_simhash" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.simHashHexAgg(docs, "doc_id", split(col("text"), " "))
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(countDistinct(col("sh")).as("n_distinct"), min("sh").as("min_sh"),
          count(lit(1)).as("cnt"))
        .orderBy("lang")
    }),

    "q43_grouping_sets" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // Embedding-cosine near-dup dedup, LSH-pruned + exact verify. The
    // corpus plants no embedding near-dups (max pairwise cosine ≈0.51,
    // measured), so both engines must agree on the empty result; the
    // operator's positive path is proven by the planted-pair scalatest.
    // vec_id < 1000 bounds the oracle's brute-force pair count.
    "q45_embed_neardup" -> ((s, d) =>
      Dedup.embeddingNearDupPairs(
          t(s, d, "embeddings").filter(col("vec_id") < 1000),
          "vec_id", "embedding", threshold = 0.9)
        .orderBy("da", "db")),

    // As-of join: each error event picks up the latest preceding click
    // of the same user (union + running window — one shuffle, no range
    // cross product; see AsOfJoin).
    "q46_asof_join" -> ((s, d) => {
      val ev = CoreQueries.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts_ns")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_ns"), col("event_id").as("click_event"))
      AsOfJoin.asOf(errors, clicks, Seq("user_id"),
          leftTs = "ts_ns", rightTs = "ts_ns",
          rightVal = "click_event", rightTie = "click_event",
          as = "click_id")
        .select("event_id", "click_id")
        .orderBy("event_id")
    }),

    // distribution windows: ntile / percent_rank / cume_dist over a
    // total order, aggregated per tile
    "q47_window_distribution" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy("value", "event_id")
      CoreQueries.events(s, d)
        .select(col("event_type"),
          ntile(4).over(w).cast("long").as("tile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .groupBy("event_type", "tile")
        .agg(count(lit(1)).as("cnt"),
          round(max("pr"), 6).as("mpr"), round(max("cd"), 6).as("mcd"))
        .orderBy("event_type", "tile")
    }),

    "q48_string_more" -> ((s, d) =>
      t(s, d, "part").selectExpr(
          "p_partkey",
          "lpad(p_brand, 12, '0') lp",
          "rpad(p_brand, 12, '_') rp",
          "reverse(p_name) rev",
          "split_part(p_type, ' ', 1) t1",
          "left(p_name, 3) l3",
          "right(p_name, 3) r3",
          "trim(concat(' ', p_brand, ' ')) tr")
        .orderBy("p_partkey")),

    "q49_math_fns" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(pow(col("l_quantity"), 2), 4).as("p2"),
          round(log(col("l_quantity") + 1), 6).as("lg"),
          signum(col("l_discount") - 0.05).cast("long").as("sg"),
          (col("l_orderkey") % 7).as("md"),
          floor(col("l_quantity")).cast("long").as("fl"),
          round(sqrt(col("l_extendedprice")), 6).as("sq"))
        .orderBy("l_orderkey", "l_linenumber")),

    // dow: Spark dayofweek is 1=Sunday..7, DuckDB date_part('dow') is
    // 0=Sunday..6 — aligned by subtracting 1 on the Spark side.
    "q50_date_more" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"),
          last_day(col("o_orderdate")).as("ld"),
          datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
            .cast("long").as("dd"),
          dayofyear(col("o_orderdate")).cast("long").as("doy"),
          (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow"))
        .orderBy("o_orderkey")),

    // typed Aggregator (UDAF surface): Welford sample variance vs the
    // oracle's var_samp — numerically stable partial/merge split.
    "q44_variance_udaf" -> ((s, d) => {
      val welford = udaf(graft.functions.WelfordVariance)
      CoreQueries.events(s, d)
        .groupBy("event_type")
        .agg(round(welford(col("value")), 2).as("vs"), count(lit(1)).as("cnt"))
        .orderBy("event_type")
    }),

    // Space-Saving heavy hitters (the QAN topK() analog) as a driver
    // entry: item cardinality is bounded by 5 event types × 500 user-id
    // residues = 2500 < capacity 4096, so the sketch never evicts and is
    // EXACT (err = 0) — oracle-able as GROUP BY / ORDER BY count / LIMIT.
    // The global agg over 32 input partitions exercises the Aggregator's
    // partial/merge path, where the mergeable-summary credit rule lives.
    "q51_topk_sketch" -> ((s, d) => {
      val topk = udaf(new graft.functions.TopKSketch(10, 4096))
      CoreQueries.events(s, d)
        .select(concat_ws("|", col("event_type"), col("user_id") % 500)
          .as("item"))
        .agg(topk(col("item")).as("tk"))
        .select(explode(col("tk")).as("t"))
        .select(col("t.item").as("item"), col("t.count").as("cnt"),
          col("t.err").as("err"))
        .orderBy(col("cnt").desc, col("item"))
    }),

    // The 100 TB Jaccard path (SCALE.md §4): document-frequency-capped
    // shingles bound the blocked join's Σ(bucket²) under Zipfian
    // stop-shingles. Same generated oracle as q26 with the cap applied
    // before counts AND overlap — proving the capped semantics are
    // exactly oracle-expressible, not a lossy approximation knob.
    "q52_jaccard_capped" -> ((s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = 0.6, maxShingleDf = Some(50L))
        .orderBy("da", "db")),

    // Deterministic train/val/test split by md5(doc_id) — the post-dedup
    // split audit. Pure per-row arithmetic, reproducible in any engine;
    // the oracle CASE is generated from the same thresholds.
    "q54_hash_split" -> ((s, d) =>
      Pipeline.hashSplit(t(s, d, "documents"), "doc_id", "text")
        .orderBy("split")),

    // Contiguous sequence packing to 2048-token packs per lang: one
    // window shuffle, pack id from the running sum — reproducible from
    // the sort key alone.
    "q55_pack_sequences" -> ((s, d) =>
      Pipeline.packSequences(t(s, d, "documents"), "doc_id", "text",
          byCol = "lang", capacity = 2048)
        .orderBy("lang", "pack_id")),

    // Benchmark decontamination: corpus docs (id >= 20) sharing any
    // distinct 5-gram with the probe set (id < 20), counted per lang.
    // The probe shingles broadcast; the corpus side never shuffles.
    "q56_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Pipeline.contaminatedDocs(
          docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
          "doc_id", "text", n = 5)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang").agg(count(lit(1)).as("n_contaminated"))
        .orderBy("lang")
    }),

    // q56's screen through the bloom gate: probe shingles collapse to a
    // broadcast bitset, corpus shingles die map-side before any
    // exchange, survivors get the exact verify join. No false negatives
    // → the ANSWER is exact, so this runs against q56's oracle verbatim
    // (the equality is the whole point: the scale path is not an
    // approximation).
    "q92_bloom_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Pipeline.contaminatedDocsBloom(
          docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
          "doc_id", "text", n = 5)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang").agg(count(lit(1)).as("n_contaminated"))
        .orderBy("lang")
    }),

    // Near-dup pairs → connected components: each doc labeled with the
    // min doc id reachable through the pair graph (its canonical
    // representative). Iterative min-label propagation on the Spark
    // side; transitive-closure recursive CTE on the oracle side — two
    // utterly different formulations agreeing on the fixpoint.
    "q67_dedup_clusters" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(t(s, d, "documents"),
        "doc_id", "text", n = 3, threshold = 0.6)
      Dedup.dedupClusters(pairs, "da", "db")
        .select(col("node").as("doc_id"), col("lbl").as("cluster"))
        .orderBy("doc_id")
    }),

    // The same clustering fixpoint via large-star/small-star alternation
    // (Dedup.dedupClustersStar) — the diameter-independent O(log)-round
    // scale path. Three formulations now agree on this answer: min-label
    // propagation (q67), star alternation (q84), and the oracle's
    // recursive transitive closure.
    "q84_dedup_clusters_star" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(t(s, d, "documents"),
        "doc_id", "text", n = 3, threshold = 0.6)
      Dedup.dedupClustersStar(pairs, "da", "db")
        .select(col("node").as("doc_id"), col("lbl").as("cluster"))
        .orderBy("doc_id")
    }),

    // Two-window trend comparison (Qan.compareWindows — pt-query-digest's
    // `--history` "which queries got worse?" question) demonstrated on the
    // events table: per-type load on each side of the range midpoint,
    // delta-ranked. The midpoint rides in as a broadcast 1-row frame (no
    // driver collect); the operator itself is ONE conditional-sum
    // aggregation — one shuffle on the key, no two-scan self-join.
    "q85_window_compare" -> ((s, d) => {
      val ev = CoreQueries.events(s, d)
        .withColumn("ts_us", expr("ts_ns div 1000"))
      val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("_mid"))
      Qan.compareWindows(ev.crossJoin(broadcast(mid)), "event_type",
          "ts_us", col("value"), col("_mid"))
        .select(col("event_type"),
          round(col("load_before"), 4).as("load_before"),
          round(col("load_after"), 4).as("load_after"),
          col("cnt_before"), col("cnt_after"),
          round(col("load_delta"), 4).as("load_delta"),
          round(col("load_ratio"), 4).as("load_ratio"))
        .orderBy(col("load_delta").desc, col("event_type"))
    }),

    // Deterministic epoch shuffle (Pipeline.shuffleDeterministic): the
    // reproducible pseudorandom permutation a training pipeline streams a
    // corpus in — md5(id:seed) sort key, range-partitioned global sort.
    // The entry ships the head of the epoch-7 stream; the oracle replays
    // the identical md5-hex ordering.
    "q86_epoch_shuffle" -> ((s, d) =>
      Pipeline.shuffleDeterministic(t(s, d, "documents"), "doc_id", seed = 7L)
        .select(col("doc_id"), col("shuffle_key"), col("lang"))
        .limit(100)),

    // Apdex latency-SLO rollup (Qan.apdex) demonstrated on the events
    // table: satisfied/tolerating class counts and the score per type,
    // worst first. Threshold generated into the oracle from the shared
    // constant so the two sides cannot drift.
    "q87_apdex" -> ((s, d) =>
      Qan.apdex(CoreQueries.events(s, d), "event_type", col("value"), ApdexT)),

    // The QAN profile — the Report CLI's central report (Qan.profile,
    // round 10): run VERBATIM over the events table mapped onto the wide
    // slow-log schema (qanWide; the oracle mirrors the mapping), so the
    // consumption half of the reference contract is oracle-checked
    // end-to-end — scaled counts/load, dispersion, worst-case example
    // row with its (time, ts, offset) tiebreak, user spread, first/last
    // seen. Floats rounded post-profile; re-sorted on digest for a
    // cross-engine total order (profile's own load rank stays its
    // production contract).
    "q94_qan_profile" -> ((s, d) =>
      // p95Accuracy 200k ≥ any oracle-SF group size, so the percentile
      // sketch is exact and hash-matches quantile_disc (at the 10k
      // default, sf0.1's ~20k-row groups read one rank off)
      Qan.profile(qanWide(s, d), p95Accuracy = 200000)
        .select(col("digest"), col("fingerprint"), col("cnt"),
          col("cnt_scaled"),
          round(col("total_time"), 4).as("total_time"),
          round(col("total_time_scaled"), 4).as("total_time_scaled"),
          round(col("avg_time"), 4).as("avg_time"),
          round(col("stddev_time"), 4).as("stddev_time"),
          round(col("vm_ratio"), 4).as("vm_ratio"),
          col("p95_time"),
          col("rows_examined"), col("rows_sent"), col("n_users"),
          col("first_seen"), col("last_seen"),
          col("example_query"), col("example_ts"))
        .orderBy("digest")),

    // The QAN sparkline (Qan.sparkline) — hourly per-digest series with
    // raw + rate-scaled load, the chart the profile drills into.
    "q95_qan_sparkline" -> ((s, d) =>
      Qan.sparkline(qanWide(s, d), "hour")
        .select(col("bucket"), col("digest"), col("cnt"), col("cnt_scaled"),
          round(col("total_time"), 4).as("total_time"),
          round(col("total_time_scaled"), 4).as("total_time_scaled"))
        .orderBy("bucket", "digest")),

    // The QAN load sidebar (Qan.loadByDbUser) — db × user rollup with
    // scaled load, subtotals and grand total included.
    "q96_qan_load" -> ((s, d) =>
      Qan.loadByDbUser(qanWide(s, d))
        .select(col("db"), col("user"), col("cnt"), col("cnt_scaled"),
          round(col("total_time"), 4).as("total_time"),
          round(col("total_time_scaled"), 4).as("total_time_scaled"))
        .orderBy(col("db").asc_nulls_first, col("user").asc_nulls_first)),

    // Binned range join (RangeJoin — interval containment, AsOfJoin's
    // sibling): events scored into OVERLAPPING value bands (width 30,
    // stride 25, so most points land in two) via the bin-exploded
    // equi-join, never Catalyst's nested-loop fallback (plan
    // spec-asserted); aggregated per band. The oracle replays the same
    // generated bands with a raw BETWEEN join.
    "q97_range_join" -> ((s, d) => {
      val ev = CoreQueries.events(s, d).select(col("event_id"), col("value"))
      val bands = s.range(0, 9).select(col("id").as("band_id"),
        (col("id") * 25.0).as("lo"), (col("id") * 25.0 + 30.0).as("hi"))
      RangeJoin.rangeJoin(ev, bands, Seq.empty, "value", "lo", "hi",
          binWidth = 25.0)
        .groupBy("band_id")
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sv"))
        .orderBy("band_id")
    }),

    // CCNet-style segment-level dedup audit (Pipeline.segmentDedup):
    // fixed 4-word positional segments, cross-document duplicates
    // dropped, the cleaned rebuild pinned by md5 — the oracle recomputes
    // segmentation, corpus document frequency, and the reassembled text
    // fingerprint, so the whole boilerplate-removal pipeline is under
    // the hash check.
    "q98_segment_dedup" -> ((s, d) =>
      Pipeline.segmentDedup(t(s, d, "documents"), "doc_id", "text", SegWidth)
        .orderBy("doc_id")),

    // Repeated-span audit (Pipeline.dupSpanStats, the Lee-et-al
    // duplicated-n-gram signal): per-document count and fraction of
    // 4-gram positions whose span occurs in more than one document.
    "q99_dup_spans" -> ((s, d) =>
      Pipeline.dupSpanStats(t(s, d, "documents"), "doc_id", "text", SpanN)
        .orderBy("doc_id")),

    // Robust QAN anomaly flags (Qan.latencyAnomaly): per-digest hourly
    // load vs the digest's median ± k·MAD, median/MAD both exact
    // percentiles over the rounded hourly frame (rule-6 determinism).
    "q100_latency_anomaly" -> ((s, d) =>
      Qan.latencyAnomaly(qanWide(s, d), AnomalyK)
        .orderBy("digest", "hr")),

    // Temperature mixture resampling (Pipeline.mixtureResample): lang
    // strata rebalanced toward uniform with keep-rate (c_min/c)^(1-α),
    // realized per-row by the 16-bit md5 bucket — the q54/q72 hash
    // machinery with corpus-derived rates.
    "q101_mixture_resample" -> ((s, d) =>
      Pipeline.mixtureResample(t(s, d, "documents"), "doc_id", "lang",
          "text")
        .orderBy("lang")),

    // Blocked Levenshtein near-dup pairs (Dedup.editDistancePairs):
    // block on (lang, first word), compare 32-char text prefixes, keep
    // pairs within EditMaxDist edits. The 100-row hot-block cap is the
    // skew guard — it never triggers on this corpus (max block 93 at
    // sf0.1), so the oracle checks the uncapped semantics while the cap
    // path is spec-pinned (DedupSpec synthetic hot block).
    "q102_edit_pairs" -> ((s, d) =>
      Dedup.editDistancePairs(t(s, d, "documents"), "doc_id",
          substring(col("text"), 1, EditPrefix),
          Seq(col("lang"), split(col("text"), " ").getItem(0)),
          EditMaxDist, maxBlock = Some(100L))
        .orderBy("a_id", "b_id")),

    // Self-trained bigram LM document scoring
    // (TextAnalysis.bigramLogLikelihood): mean log P(w2|w1) per doc
    // under corpus MLE counts — the "how typical is this text" quality
    // signal; both engines recompute the counts and the per-doc mean.
    "q103_bigram_lm" -> ((s, d) =>
      TextAnalysis.bigramLogLikelihood(t(s, d, "documents"), "doc_id",
          "text")
        .orderBy("doc_id")),

    // Sorted-neighborhood candidate pairs (Dedup.sortedNeighborhoodPairs
    // over Pipeline.globalRank): order by 16-char text prefix, pair each
    // doc with its 3 successors. The oracle's single-reducer
    // row_number() is exactly what the distributed rank replaces — same
    // total order, so identical pairs.
    "q104_sorted_neighborhood" -> ((s, d) =>
      Dedup.sortedNeighborhoodPairs(t(s, d, "documents"), "doc_id",
          substring(col("text"), 1, SnKeyLen), SnWindow)
        .orderBy("a_id", "b_id")),

    // Interval-overlap join (RangeJoin.overlapJoin): view sessions
    // [v, v+20] × error windows [v, v+15] per user-ring key, binned at
    // 25 — one equi-join, pair counted once at its ownership bin; the
    // oracle runs the raw overlap predicate.
    "q105_interval_overlap" -> ((s, d) => {
      val ev = CoreQueries.events(s, d)
        .withColumn("k", (col("user_id") % 8).cast("long"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("k"), col("value").as("v_lo"),
          (col("value") + 20.0).as("v_hi"))
      val errs = ev.filter(col("event_type") === "error")
        .select(col("k"), col("value").as("e_lo"),
          (col("value") + 15.0).as("e_hi"))
      RangeJoin.overlapJoin(views, errs, Seq("k"),
          "v_lo", "v_hi", "e_lo", "e_hi", binWidth = 25.0)
        .groupBy("k")
        .agg(count(lit(1)).as("n_pairs"), round(avg("v_lo"), 4).as("sv"))
        .orderBy("k")
    }),

    // k-NN majority-vote labeling (Similarity.knnClassify): 20 probes,
    // 5 exact neighbors each, label by vote (ties → smaller label) —
    // the weak-annotation primitive; the oracle recomputes neighbors,
    // votes, and the tie rule.
    "q106_knn_classify" -> ((s, d) =>
      Similarity.knnClassify(t(s, d, "embeddings"),
          t(s, d, "embeddings").filter(col("vec_id") < 20),
          "vec_id", "embedding", "label", k = 5)
        .orderBy("probe_id")),

    // BM25 top-10 (Search.bm25TopK): Lucene-shape ranked retrieval of
    // documents against the 3-term query, rank on the rounded score —
    // the keyword half of a RAG stack; the oracle recomputes idf/tf
    // normalization from the same constants.
    "q111_bm25" -> ((s, d) =>
      Search.bm25TopK(t(s, d, "documents"), "doc_id", "text",
        SearchTerms, Bm25TopK, Bm25K1, Bm25B)),

    // Hybrid retrieval: BM25 + exact-phrase boost before the top-k cut
    // — the RAG-stack ranking composition (q111 × q189).
    "q196_phrase_boost" -> ((s, d) =>
      Search.phraseBoostTopK(t(s, d, "documents"), "doc_id", "text",
        SearchTerms, "hash join", boost = 1.0, k = Bm25TopK,
        Bm25K1, Bm25B)),

    // Diversified search — the retrieval capstone (q111 × q192 × q67):
    // BM25 top-50 candidates, cosine-0.9 near-dup clustering WITHIN the
    // candidate set (50-row frame — the window is bounded before it
    // runs), best-scoring representative per cluster, top-10 of the
    // survivors. A result list where near-identical hits collapse.
    "q200_diverse_search" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val cands = Search.bm25Scores(docs, "doc_id", "text", SearchTerms)
        .orderBy(col("score").desc, col("doc_id")).limit(50)
        .transform(Materialize(_))
      val pairs = Dedup.lexicalCosinePairs(
        docs.join(cands.select("doc_id"), "doc_id"), "doc_id", "text",
        minSim = 0.9, maxDf = 1000L)
      val clusters = Dedup.dedupClusters(pairs, "da", "db")
        .select(col("node").as("doc_id"), col("lbl").as("cluster"))
      val w = Window.partitionBy("cluster")
        .orderBy(col("score").desc, col("doc_id"))
      cands.join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
        .withColumn("_r", row_number().over(w))
        .filter(col("_r") === 1).drop("_r")
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select("rn", "doc_id", "score", "cluster")
    }),

    // Prefix autocomplete: completions of 's' ranked by exact doc
    // frequency — range predicate, so the at-rest path prunes by
    // row-group token min/max, not hash buckets (Search scaladoc).
    "q197_autocomplete" -> ((s, d) =>
      Search.prefixCompletions(
        Search.postings(t(s, d, "documents"), "doc_id", "text"),
        "s", k = 10)),

    // Conjunctive (all-terms) search (Search.conjunctiveSearch):
    // posting intersection as ONE count-matching aggregation instead
    // of a semi-join chain — n query terms, one shuffle.
    "q112_conj_search" -> ((s, d) =>
      Search.conjunctiveSearch(
        Search.postings(t(s, d, "documents"), "doc_id", "text"),
        SearchTerms)),

    // Ordered funnel (Behavior.funnel): view → click-after-view →
    // purchase-after-that per user, one timestamp of state per stage;
    // the oracle chains the same min-after-previous CTEs.
    "q113_funnel" -> ((s, d) =>
      Behavior.funnel(CoreQueries.events(s, d), "user_id",
        expr("ts_ns div 1000"), col("event_type"), FunnelStages)),

    // Cohort retention triangle (Behavior.retention): first-active-day
    // cohorts × day offsets over distinct (user, day) activity.
    "q114_retention" -> ((s, d) =>
      Behavior.retention(CoreQueries.events(s, d), "user_id",
          expr(s"(ts_ns div 1000) div $DayUs"))
        .withColumnRenamed("offset", "day_offset")),

    // Gaps-and-islands → SCD-2 change history (Behavior
    // .changeIntervals): maximal same-type runs per user as
    // [valid_from, valid_to) rows, valid_to open on the current run.
    "q115_change_intervals" -> ((s, d) =>
      Behavior.changeIntervals(CoreQueries.events(s, d), "user_id",
        expr("ts_ns div 1000"), col("event_id"), col("event_type"))),

    // Top navigation paths (Behavior.topPaths): first-5 event-type
    // sequences per user, counted across users — the one bounded
    // collect_list in the codebase (≤ depth rows per group, filtered
    // before the aggregation).
    "q116_top_paths" -> ((s, d) =>
      Behavior.topPaths(CoreQueries.events(s, d), "user_id",
        expr("ts_ns div 1000"), col("event_id"), col("event_type"),
        PathDepth, PathTopK)),

    // Fixed-iteration PageRank (Graph.pageRank) over the UNDIRECTED
    // customer↔supplier trade graph: 3 contribute-and-sum rounds, a
    // finite join chain with no driver convergence probe; the oracle
    // unrolls the identical iterations as CTEs. Node keys stay LONG
    // (custkey·2 / suppkey·2+1 — the parity namespacing, disjoint by
    // construction) through every shuffle and decode to the oracle's
    // 'c'/'s' strings only at the 20-row readout: string keys through
    // a 6-shuffle iteration chain were a measured constant tax. The
    // readout re-applies the determinism rule ON THE STRING FORM
    // (round → desc, node asc) so rank ties break exactly like the
    // oracle's ORDER BY.
    "q118_pagerank" -> ((s, d) => {
      val pairs = t(s, d, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, d, "lineitem").select("l_orderkey", "l_suppkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
      val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      val ranks = Graph.pageRank(edges, "a", "b", PrIters, PrDamping)
      val named = ranks.select(
        when(col("node") % 2 === 0,
          concat(lit("c"), expr("node div 2")))
          .otherwise(concat(lit("s"), expr("(node - 1) div 2"))).as("node"),
        round(col("rank"), 4).as("rank"))
      named.orderBy(col("rank").desc, col("node")).limit(PrTopK)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("rank").desc, col("node"))).cast("long"))
        .select("rn", "node", "rank")
    }),

    // Inter-event gap census (Behavior.interEventGaps): waiting-time
    // distribution per user — one lag window + one aggregation on the
    // same entity-key shuffle; single-event users keep null stats.
    "q119_event_gaps" -> ((s, d) =>
      Behavior.interEventGaps(CoreQueries.events(s, d), "user_id",
        expr("ts_ns div 1000"), col("event_id"))),

    // q113's funnel under a 1-day conversion window (the production
    // shape: a click a week after the view is not a conversion) — the
    // bound is a row predicate on the same stage join.
    "q120_funnel_window" -> ((s, d) =>
      Behavior.funnel(CoreQueries.events(s, d), "user_id",
        expr("ts_ns div 1000"), col("event_type"), FunnelStages,
        maxGap = Some(FunnelGapUs))),

    // Market-segment revenue mix — revenue and order count per
    // customer segment with each segment's share: the remaining
    // customer dimension exercised through the same broadcast-star
    // shape; share from one division of the unrounded sums, rounded
    // once.
    "q165_segment_revenue" -> ((s, d) => {
      val rev = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("_rev"),
          countDistinct(col("o_orderkey")).as("n_orders"))
      // revenue ships as PER-ORDER average, not the raw sum: a ~6e9
      // sum disagrees between engines in the 4th decimal (the q105
      // magnitude rule, hit live at sf0.1 — .3999 vs .4000); the
      // division collapses the accumulation error
      rev.crossJoin(broadcast(rev.agg(sum("_rev").as("_tot"))))
        .select(col("c_mktsegment"), col("n_orders"),
          round(col("_rev") / col("n_orders"), 4).as("avg_order_rev"),
          round(col("_rev") / col("_tot"), 4).as("rev_share"))
        .orderBy("c_mktsegment")
    }),

    // Unshipped-order revenue (the TPC-H Q3 shape): top-10 orders by
    // outstanding revenue for one market segment — both date filters
    // push below the join, the segment filter prunes the broadcast
    // dimension, and the rank runs on the ROUNDED per-order sum (both
    // engines order identical 4-dp values; ≤7 items per order keeps
    // the sum exact at that precision).
    "q166_unshipped_orders" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") > lit("1998-07-01"))
        .join(t(s, d, "orders")
          .filter(col("o_orderdate") < lit("1998-07-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"))
        .select(col("o_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)),

    // Forecast-revenue delta (the TPC-H Q6 shape): one filtered scan,
    // no joins — the predicate-pushdown workhorse. Ships the AVERAGE
    // discounted revenue (q105 magnitude rule: the raw sum's
    // accumulation error crosses the 4th decimal; the division
    // collapses it) next to the exact count.
    "q167_forecast_revenue" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(count(lit(1)).as("n_items"),
          round(avg(col("l_extendedprice") * col("l_discount")), 4)
            .as("avg_disc_rev"))),

    // Promotion revenue share (the TPC-H Q14 shape): one month of
    // lineitems against the broadcast part dimension, share as a ratio
    // of two sums over the SAME rows (the accumulation error divides
    // out, q134/q165 family).
    "q168_promo_share" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-09-01") &&
          col("l_shipdate") < lit("1997-10-01"))
        .join(broadcast(t(s, d, "part")),
          col("l_partkey") === col("p_partkey"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(when(col("p_type") === "PROMO",
              col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .otherwise(lit(0.0))) /
            sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))) * 100,
            4).as("promo_share"))),

    // Returned-item customers (the TPC-H Q10 shape): top-20 customers
    // by revenue lost to returns — the returnflag filter pushes to the
    // fact scan, customers broadcast, rank on the rounded per-customer
    // sum with the key tiebreak.
    "q169_returned_revenue" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_returnflag") === "R")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("lost_revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(col("lost_revenue").desc, col("c_custkey"))
        .limit(20)),

    // Disjunctive-predicate revenue (the TPC-H Q19 shape): an OR of
    // three (brand × size-range × quantity-range) conjunction groups
    // spanning both join sides — the boolean-pushdown stress shape;
    // average-based output (q167 rule).
    "q170_brand_quantity" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#11" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#19" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 30)))
        .agg(count(lit(1)).as("n_items"),
          round(avg(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
            .as("avg_rev"))),

    // Large-volume orders (the TPC-H Q18 shape): GROUP-BY-HAVING as a
    // pre-aggregated join side — the quantity filter collapses the
    // fact table BEFORE any dimension joins it, and the rank runs on
    // EXACT integer quantity sums (l_quantity is integral-valued, so
    // the double sum is exact and casts cleanly).
    "q171_big_orders" -> ((s, d) => {
      val big = t(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum("l_quantity").as("_q"))
        .filter(col("_q") > 250)
      t(s, d, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("_q").cast("long").as("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(20)
    }),

    // Sole-late-supplier census (the TPC-H Q21 shape): suppliers who
    // were the ONLY late shipper on multi-supplier orders — Q21's
    // exists/not-exists pair expressed as exact distinct-count
    // predicates over one shared late-pair frame (the set of late
    // suppliers per order must equal {s} while the order has ≥2
    // suppliers): three aggregates of the same fact scan, two
    // key-equi-joins, everything integer-exact.
    "q172_sole_late_supplier" -> ((s, d) => {
      val li = t(s, d, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
      // read by the solo census and the final join; one bounded
      // materialization instead of two fact-join executions
      val late = li
        .join(t(s, d, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate"))
        .select("l_orderkey", "l_suppkey").distinct()
        .transform(Materialize(_))
      val multi = li.groupBy("l_orderkey")
        .agg(countDistinct("l_suppkey").as("_ns")).filter(col("_ns") >= 2)
        .select("l_orderkey")
      val solo = late.groupBy("l_orderkey")
        .agg(count(lit(1)).as("_nl")).filter(col("_nl") === 1)
        .select("l_orderkey")
      late.join(multi, "l_orderkey").join(solo, "l_orderkey")
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_waits"))
        .orderBy(col("n_waits").desc, col("l_suppkey"))
        .limit(20)
    }),

    // Min-cost supplier (the TPC-H Q2 shape, partsupp derived from the
    // fact table): per (part, supplier) the best observed unit price —
    // ROUNDED BEFORE the min so both engines compare identical 4-dp
    // values — then the correlated per-part minimum over one region's
    // suppliers, joined back for the winning rows. The part filter sits
    // BELOW the pair aggregate (Q2's own plan hides it in a correlated
    // subquery; here Catalyst prunes the fact scan with it), and both
    // dimension sides broadcast.
    "q173_min_cost_supplier" -> ((s, d) => {
      val eu = broadcast(t(s, d, "supplier")
        .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, d, "region").filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name"))
      val offer = t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")
          .filter(col("p_size") <= 10 && col("p_type") === "STANDARD")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_partkey"), col("p_name"), col("l_suppkey"))
        .agg(min(round(col("l_extendedprice") / col("l_quantity"), 4))
          .as("unit_price"))
        .join(eu, col("l_suppkey") === col("s_suppkey"))
      // winner selection as a per-part window min, not a self-join:
      // one part-keyed exchange instead of re-aggregate + SMJ (the
      // window partitions on the grouping key, so no cliff)
      offer.withColumn("_best", min("unit_price")
          .over(org.apache.spark.sql.expressions.Window.partitionBy("p_partkey")))
        .filter(col("unit_price") === col("_best"))
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "unit_price")
        .orderBy(col("unit_price"), col("p_partkey"), col("s_suppkey"))
        .limit(25)
    }),

    // Bilateral shipping volume (the TPC-H Q7 shape): revenue flowing
    // between two specific nations in both directions, by supplier
    // nation × customer nation × ship year. Customers prune ORDERS
    // before the fact join (2/25 selectivity moves up the tree), both
    // nation-tagged dimensions broadcast, and the output ships the
    // AVERAGE revenue (q167 rule).
    "q174_nation_volume" -> ((s, d) => {
      val pair = Seq("NATION_1", "NATION_2")
      val sup = broadcast(t(s, d, "supplier")
        .join(t(s, d, "nation").filter(col("n_name").isin(pair: _*)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("sn")))
      val cust = broadcast(t(s, d, "customer")
        .join(t(s, d, "nation").filter(col("n_name").isin(pair: _*)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cn")))
      t(s, d, "lineitem")
        .join(t(s, d, "orders").join(cust, col("o_custkey") === col("c_custkey"))
          .select("o_orderkey", "cn"),
          col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .filter(col("sn") =!= col("cn"))
        .groupBy(col("sn"), col("cn"),
          year(col("l_shipdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_items"),
          round(avg(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
            .as("avg_rev"))
        .orderBy("sn", "cn", "yr")
    }),

    // Market share (the TPC-H Q8 shape): one nation's share of the
    // revenue a region's customers spend on one part type, per year —
    // the share is a ratio of two sums over the SAME rows (q168 rule:
    // accumulation error divides out). Part + customer-region filters
    // both prune below the fact joins; every dimension broadcasts.
    "q175_market_share" -> ((s, d) => {
      val amer = broadcast(t(s, d, "customer")
        .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, d, "region").filter(col("r_name") === "AMERICA"),
          col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey"))
      val sup = broadcast(t(s, d, "supplier")
        .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("sn")))
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part").filter(col("p_type") === "ECONOMY")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, d, "orders").join(amer, col("o_custkey") === col("c_custkey"))
          .select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("l_shipdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(when(col("sn") === "NATION_5", rev).otherwise(lit(0.0))) /
            sum(rev), 4).as("mkt_share"))
        .orderBy("yr")
    }),

    // Product-type profit (the TPC-H Q9 shape): profit per supplier
    // nation × order year for one part family — the part-name LIKE
    // filter prunes the fact scan through the broadcast join, and the
    // cost leg (no partsupp table) derives from the part's retail
    // price. AVERAGE profit (q105 magnitude rule).
    "q176_product_profit" -> ((s, d) => {
      val sup = broadcast(t(s, d, "supplier")
        .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("sn")))
      // profit in EXACT 1e-4-dollar integer units (cents × discount
      // hundredths), decimal-summed, ONE double division at the edge —
      // the q105/q201 rule: a raw double avg flipped a live 4-dp half
      // boundary at sf0.001 (29969.60175, r13 close), because double
      // sums are reduce-order-dependent run to run
      val unitProfit =
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long")) -
          lit(60L) * round(col("p_retailprice") * 100).cast("long") *
            col("l_quantity").cast("long")).cast("decimal(38,0)")
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part").filter(col("p_name").like("%widget%"))),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, d, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("sn"), year(col("o_orderdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(unitProfit).cast("double") / count(lit(1)) / 1e4, 4)
            .as("avg_profit"))
        .orderBy("sn", "yr")
    }),

    // Important parts (the TPC-H Q11 shape): per-part revenue from one
    // nation's suppliers, kept where it exceeds a multiple of the MEAN
    // part value — the scalar-subquery-threshold shape, made
    // scale-independent (Q11's fraction-of-total empties as the part
    // count grows; a mean multiple selects the same head at any SF).
    // Per-part sums round to 4 dp BEFORE the threshold compare so both
    // engines compare identical decimals (q134 rule); the one-row
    // threshold broadcasts via crossJoin.
    "q177_important_parts" -> ((s, d) => {
      val sup = broadcast(t(s, d, "supplier")
        .join(t(s, d, "nation").filter(col("n_name") === "NATION_3"),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey"))
      val v = t(s, d, "lineitem")
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("val"))
      val thr = v.agg(round(avg("val") * 3.0, 4).as("_thr"))
      v.crossJoin(broadcast(thr)).filter(col("val") > col("_thr"))
        .select(col("l_partkey"), col("val"))
        .orderBy(col("val").desc, col("l_partkey"))
    }),

    // Late-shipment priority split (the TPC-H Q12 shape): for badly
    // late lineitems (> 60 days past the order date), how many carry
    // high- vs low-priority orders, per returnflag class — conditional
    // integer counts over one fact-fact join, exact on every engine.
    "q178_late_priority" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders").select("o_orderkey", "o_orderdate",
          "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_late"),
          count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
            .as("high_line"),
          count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
            .as("low_line"))
        .orderBy("l_returnflag")),

    // Customer order-count distribution (the TPC-H Q13 shape): LEFT
    // join with the status predicate INSIDE the join condition (the
    // join-filter-vs-where distinction Q13 exists to test), per-customer
    // counts — zero for order-less customers — then the count-of-counts
    // histogram. Two shuffles, both on exact integers.
    "q179_order_distribution" -> ((s, d) =>
      t(s, d, "customer").select("c_custkey")
        .join(t(s, d, "orders")
          .filter(col("o_orderstatus") =!= "P")
          .select("o_custkey", "o_orderkey"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)),

    // Top supplier (the TPC-H Q15 shape): suppliers whose quarterly
    // revenue EQUALS the maximum — the aggregate-view + scalar-max
    // shape. Per-supplier revenue rounds to 4 dp before the equality
    // compare (q173/q177 rule); the one-row max broadcasts.
    "q180_top_supplier" -> ((s, d) => {
      val r = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1997-04-01"))
        .groupBy("l_suppkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("total_rev"))
      r.crossJoin(broadcast(r.agg(max("total_rev").as("_mx"))))
        .filter(col("total_rev") === col("_mx"))
        .join(broadcast(t(s, d, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    }),

    // Supplier relationship census (the TPC-H Q16 shape): distinct
    // suppliers per (brand, type, size bucket), excluding one brand and
    // a "complaint" supplier set (negative balance) via a broadcast
    // anti-join — exact distinct counts, broadcast part dim, the
    // NOT-IN expressed as left_anti so nothing collects.
    "q181_supplier_census" -> ((s, d) =>
      t(s, d, "lineitem").select("l_partkey", "l_suppkey")
        .join(broadcast(t(s, d, "supplier")
          .filter(col("s_acctbal") < 0).select("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(t(s, d, "part").filter(col("p_brand") =!= "Brand#13")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"),
          expr("p_size div 10").as("sz"))
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("sz"))
        .limit(30)),

    // Small-quantity orders (the TPC-H Q17 shape): lineitems under
    // HALF the part's average quantity — the correlated-average
    // predicate as a self-aggregate join. The average is exact on both
    // engines (integral quantities: the double sum is exact, the
    // division identical IEEE), so the predicate cannot flip; the
    // output ships the rounded average price (q167 rule).
    "q182_small_quantity" -> ((s, d) => {
      val a = t(s, d, "lineitem")
        .groupBy(col("l_partkey").as("ap"))
        .agg(avg("l_quantity").as("aq"))
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part").filter(col("p_type") === "SMALL")),
          col("l_partkey") === col("p_partkey"))
        .join(a, col("l_partkey") === col("ap"))
        .filter(col("l_quantity") < lit(0.5) * col("aq"))
        .agg(count(lit(1)).as("n_items"),
          round(avg("l_extendedprice"), 4).as("avg_price"))
    }),

    // High-volume part suppliers (the TPC-H Q20 shape): suppliers who
    // shipped more than a threshold quantity of one part family in one
    // year — the nested semi-join chain collapsed into a HAVING
    // pre-aggregation (q171 rule) whose survivors join the broadcast
    // supplier + nation dims; integer-exact quantities.
    "q183_part_volume_suppliers" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .join(broadcast(t(s, d, "part").filter(col("p_name").like("red%"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(sum("l_quantity").cast("long").as("qty"))
        .filter(col("qty") > 180)
        .join(broadcast(t(s, d, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name", "qty")
        .orderBy("s_suppkey")),

    // Lapsed high-balance customers (the TPC-H Q22 shape): customers
    // above the average positive balance with NO recent orders — the
    // scalar-average threshold (rounded to 4 dp both sides before the
    // compare) plus an anti-join whose date predicate pushes into the
    // orders scan; grouped by nation instead of Q22's phone prefix.
    "q184_lapsed_customers" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val thr = cust.filter(col("c_acctbal") > 0)
        .agg(round(avg("c_acctbal"), 4).as("_thr"))
      cust.crossJoin(broadcast(thr))
        .filter(col("c_acctbal") > col("_thr"))
        .join(t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01"))
          .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"),
          round(avg("c_acctbal"), 4).as("avg_bal"))
        .orderBy("n_name")
    }),

    // BPE merge learning (tokenizer training): the top-8 symbol-pair
    // merges over the document corpus — the only corpus-sized stage is
    // the word-count aggregate; every iteration runs over the
    // vocabulary frame with a one-row argmax collect (see Bpe.scala's
    // determinism contract; the oracle is the same iteration unrolled
    // as a generated CTE chain).
    "q185_bpe_merges" -> ((s, d) =>
      Bpe.mergeTable(t(s, d, "documents"), "text", 8)),

    // BPE token distribution: the corpus's top-25 subword tokens under
    // the q185 merges — the unigram readout a tokenizer-budget analysis
    // wants; exact integer counts from the segmented vocabulary.
    "q186_bpe_tokens" -> ((s, d) =>
      Bpe.tokenTable(t(s, d, "documents"), "text", 8, 25)),

    // Models-at-rest serving capstone (r13): the session's three
    // stored models — NB likelihoods (q242), k-medians centroids
    // (q245), BPE merges (q249) — serve the SAME held-out corpus in
    // one per-lang scorecard: classifier accuracy, cluster mix of the
    // embedded docs, tokenizer fertility. Every stage reads a stored
    // table; nothing re-trains. Oracle nests the three entries'
    // generated statements as CTEs (shared builders — can't drift).
    "q250_model_serving" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
      ensureStoredIndex("graft_bench_nbmodel_q242", d) {
        val (c1, l1) = TextAnalysis.naiveBayesFit(
          docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", "lang")
        Warehouse.save(Layout.NaiveBayes, "graft_bench_nbmodel_q242", c1, l1)
        val (c2, l2) = TextAnalysis.naiveBayesFit(
          docs.filter(col("doc_id") % 4 === 2), "doc_id", "text", "lang")
        Warehouse.append(Layout.NaiveBayes, "graft_bench_nbmodel_q242", c2, l2)
      }
      ensureStoredIndex("graft_bench_kmed_q245", d) {
        Warehouse.save(Layout.Plain, "graft_bench_kmed_q245",
          Similarity.kMediansCentroids(
            emb.filter(col("vec_id") % 2 === 0),
            "vec_id", "embedding", KMediansK, KMediansIters))
      }
      ensureStoredIndex("graft_bench_bpe_q249", d) {
        Warehouse.save(Layout.Plain, "graft_bench_bpe_q249",
          Bpe.mergeTable(docs.filter(col("doc_id") % 2 === 0), "text", 8))
      }
      val test = docs.filter(col("doc_id") % 2 === 1)
      val nb = TextAnalysis.naiveBayesScoreStored(
          s, "graft_bench_nbmodel_q242", test, "doc_id", "text", "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pred") === col("lang"), 1L).otherwise(0L))
            .as("nb_correct"))
      val bpe = Bpe.applyStats(test, "text", "lang",
        s.table("graft_bench_bpe_q249"))
      val cent = Similarity.classifyNearestCentroid(
          emb.filter(col("vec_id") % 2 === 1),
          s.table("graft_bench_kmed_q245"), "vec_id", "embedding", "vec_id")
        .select(col("vec_id").as("doc_id"), col("assigned"))
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_embedded"),
          countDistinct("assigned").as("n_clusters"))
      nb.join(bpe, "lang").join(cent, "lang")
        .select(col("lang"), col("n_docs"), col("nb_correct"),
          col("n_words"), col("n_tokens"), col("n_whole"),
          col("n_embedded"), col("n_clusters"))
        .orderBy("lang")
    }),

    // Batch admission, oracle-checked (r14, verdict item 4): the five
    // streaming admission axes were spec-verified but none had a
    // DuckDB entry — this one drives the BATCH API
    // (StreamingDedup.admitBatchMinHash) end to end. Standing index =
    // MinHash bands+shingles of the EVEN docs; the ODD docs arrive as
    // one batch. Admission contract (oracle-expressible): admitted =
    // batch minus within-batch non-representatives (3-gram Jaccard
    // >= 0.6 closure, min-id rep — the q67 recursive CTE) minus docs
    // with Jaccard >= 0.6 against ANY indexed doc (semi-join CTE).
    // Short docs (< 3 words, no shingles) are admitted by contract.
    // The admission WRITES (survivors parquet + index append) happen
    // once behind the ensureStoredIndex guard; the entry reads the
    // committed survivors, so reruns in one JVM are stable and a fresh
    // JVM rebuilds from Overwrite.
    "q251_batch_admission" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val outPath = "spark-warehouse/graft_bench_admit_q251_out"
      ensureStoredIndex("graft_bench_admit_q251", d) {
        val hp = new org.apache.hadoop.fs.Path(outPath)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(hp)) fs.delete(hp, true)
        val idx = docs.filter(col("doc_id") % 2 === 0)
        val sh = Dedup.shingles(idx, "doc_id", "text", n = 3).persist()
        try Warehouse.save(Layout.minHash(), "graft_bench_admit_q251",
          Dedup.minHashBandFrameFromShingles(sh, "doc_id"), sh)
        finally sh.unpersist()
        graft.streaming.StreamingDedup.admitBatchMinHash(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          "graft_bench_admit_q251", outPath)
      }
      s.read.parquet(outPath).select("doc_id", "lang").orderBy("doc_id")
    }),

    // Streaming funnel, oracle-checked (r14, verdict stretch 8): the
    // REAL events table replayed through StreamingFunnel.progress as
    // two time-ordered micro-batches (midpoint split — in-order across
    // batches, the reconciliation contract's premise), conversion log
    // committed via the parquet sink + checkpoint, then rolled up with
    // funnelTable to Behavior.funnel's exact shape. Oracle = q113's
    // min-after-previous CTE chain VERBATIM (the q92/q242 equality
    // posture: the streamed path is not an approximation over an
    // in-order replay). Replay + state writes happen once behind the
    // guard; the entry reads the committed log.
    "q252_streaming_funnel" -> ((s, d) => {
      val base = "spark-warehouse/graft_bench_sfunnel_q252"
      ensureStoredIndex("graft_bench_sfunnel_q252", d) {
        val hp = new org.apache.hadoop.fs.Path(base)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(hp)) fs.delete(hp, true)
        val ev = CoreQueries.events(s, d)
          .select(col("user_id"), expr("ts_ns div 1000").as("ts"),
            col("event_type"))
        val mid = ev.agg(expr("(min(ts) + max(ts)) div 2")).head().getLong(0)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType)))
        def replay(slice: DataFrame): Unit = {
          slice.write.mode("append").parquet(s"$base/src")
          val q = graft.streaming.StreamingFunnel.progress(
              s.readStream.schema(schema).parquet(s"$base/src"),
              "user_id", "ts", "event_type", FunnelStages)
            .writeStream.format("parquet")
            .option("path", s"$base/out")
            .option("checkpointLocation", s"$base/ckpt")
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          // fail loudly on a hung replay: a false return means the
          // AvailableNow query was still running at the deadline, and
          // stopping it mid-replay would surface later as an opaque
          // oracle hash mismatch instead of a timeout here
          val done = q.awaitTermination(300000)
          q.stop()
          require(done, "q252 streaming-funnel replay timed out (300 s)")
        }
        replay(ev.filter(col("ts") <= mid))
        replay(ev.filter(col("ts") > mid))
      }
      graft.streaming.StreamingFunnel.funnelTable(
        s.read.parquet(s"$base/out"), FunnelStages)
    }),

    // Retention from a stored activity rollup (r14): the q114 cohort
    // triangle served from blind-appended distinct-(user, day) partials
    // — an activity table is orders of magnitude smaller than the
    // event log, and a replayed batch collapses via its batch_id stamp
    // + the operator's own distinct. Oracle = q114's SQL VERBATIM (the
    // q92/q242/q252 equality posture).
    "q253_retention_rollup" -> ((s, d) => {
      val base = "spark-warehouse/graft_bench_activity_q253"
      ensureStoredIndex("graft_bench_activity_q253", d) {
        val hp = new org.apache.hadoop.fs.Path(base)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(hp)) fs.delete(hp, true)
        val act = CoreQueries.events(s, d)
          .select(col("user_id"),
            expr(s"(ts_ns div 1000) div $DayUs").as("b"))
          .distinct()
        val mid = act.agg(expr("(min(b) + max(b)) div 2")).head().getLong(0)
        def append(batch: DataFrame, bid: Long): Unit =
          batch.withColumn("batch_id", lit(bid))
            .write.mode("append").parquet(base)
        append(act.filter(col("b") <= mid), 0L)
        append(act.filter(col("b") > mid), 1L)
        append(act.filter(col("b") > mid), 1L) // replay
      }
      Behavior.retentionFromActivity(
          s.read.parquet(base)
            .dropDuplicates("batch_id", "user_id", "b").drop("batch_id"),
          "user_id", "b")
        .withColumnRenamed("offset", "day_offset")
    }),

    // Winnowing fingerprints (r14, Dedup.winnowingFingerprints — the
    // SIGMOD'03 local selection scheme behind MOSS): positional
    // 3-gram 40-bit hashes, rightmost-min over every full 4-window,
    // selection packed into one comparable long on BOTH engines. The
    // per-doc scorecard is fully data-bearing (counts + min/max of the
    // exact selected packs); density sits near the 2/(w+1) theory.
    "q254_winnowing" -> ((s, d) =>
      Dedup.winnowingFingerprints(t(s, d, "documents"), "doc_id", "text",
          k = WinnowK, w = WinnowW)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_selected"),
          countDistinct("fp_hash").as("n_hashes"),
          min("fp").as("min_fp"), max("fp").as("max_fp"))
        .orderBy("doc_id")),

    // The winnowing MATCH (q254's consumer — the MOSS shape): doc
    // pairs sharing >= WinnowMinShared selected fingerprint hashes.
    // The join blocks on the selected hashes only (a 2/(w+1) sample of
    // the gram stream — the selection IS the candidate pruning), with
    // the q26 df-cap discipline against hot-gram skew (cap mirrored in
    // the oracle, so the screen is part of the contract).
    "q255_winnow_pairs" -> ((s, d) => {
      // Materialize (eager): the selected frame feeds the df
      // screen AND both sides of the pair join — lazy, the 65M-gram
      // explode + window would execute FOUR times in one plan
      // (measured 214 s vs 62 s for one selection pass at 100×; the
      // rejectedIds technique).
      val sel = Dedup.winnowingFingerprints(t(s, d, "documents"),
          "doc_id", "text", k = WinnowK, w = WinnowW)
        .select(col("doc_id"), col("fp_hash")).distinct()
        .transform(Materialize(_))
      val rare = sel.groupBy("fp_hash").agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= WinnowMaxDf).select("fp_hash")
      val kept = sel.join(rare, "fp_hash")
      kept.select(col("doc_id").as("da"), col("fp_hash"))
        .join(kept.select(col("doc_id").as("db"), col("fp_hash")), "fp_hash")
        .filter(col("da") < col("db"))
        .groupBy("da", "db")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= WinnowMinShared)
        .orderBy("da", "db")
    }),

    // Segment-level winnowing match (r15 — verdict item 4): q255's
    // MOSS shape at SUB-document granularity, so a copied section
    // inside an otherwise-novel doc is caught AND located (which
    // segment of which doc). Same df screen + Materialize
    // discipline as q255; the pair join carries (doc, segment) keys.
    "q262_winnow_segments" -> ((s, d) => {
      val sel = Dedup.winnowingSegmentFingerprints(t(s, d, "documents"),
          "doc_id", "text", segWords = SegWinnowWords,
          k = WinnowK, w = WinnowW)
        .select(col("doc_id"), col("seg_id"), col("fp_hash")).distinct()
        .transform(Materialize(_))
      val rare = sel.groupBy("fp_hash").agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= WinnowMaxDf).select("fp_hash")
      val kept = sel.join(rare, "fp_hash")
      kept.select(col("doc_id").as("da"), col("seg_id").as("sa"),
          col("fp_hash"))
        .join(kept.select(col("doc_id").as("db"), col("seg_id").as("sb"),
          col("fp_hash")), "fp_hash")
        .filter(col("da") < col("db"))
        .groupBy("da", "sa", "db", "sb")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= SegWinnowMinShared)
        .orderBy("da", "sa", "db", "sb")
    }),

    // q255 THROUGH the at-rest index (the q40 pattern — thirteenth
    // at-rest family, Layout.Winnow): the screened
    // selection is persisted bucketed by fp_hash in two halves (save +
    // blind append — the composition contract in the entry itself) and
    // the pair join consumes the STORED table, pre-distributed on the
    // hash. Oracle = q255's SQL VERBATIM: the stored path is not an
    // approximation.
    "q256_winnow_stored" -> ((s, d) => {
      ensureStoredIndex("graft_bench_winnow_q256", d) {
        val sel = Dedup.winnowingFingerprints(t(s, d, "documents"),
            "doc_id", "text", k = WinnowK, w = WinnowW)
          .select(col("doc_id"), col("fp_hash")).distinct()
          .transform(Materialize(_))
        val rare = sel.groupBy("fp_hash").agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= WinnowMaxDf).select("fp_hash")
        val kept = sel.join(rare, "fp_hash")
        Warehouse.save(Layout.Winnow, "graft_bench_winnow_q256",
          kept.filter(col("doc_id") % 2 === 0))
        Warehouse.append(Layout.Winnow, "graft_bench_winnow_q256",
          kept.filter(col("doc_id") % 2 === 1))
      }
      val kept = s.table("graft_bench_winnow_q256")
      kept.select(col("doc_id").as("da"), col("fp_hash"))
        .join(kept.select(col("doc_id").as("db"), col("fp_hash")), "fp_hash")
        .filter(col("da") < col("db"))
        .groupBy("da", "db")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= WinnowMinShared)
        .orderBy("da", "db")
    }),

    // Schema evolution across parquet generations (r14): a standing
    // corpus whose NEWER batches carry an added column — the 100-TB
    // reality of years-old datasets. Generation A (even docs) is
    // written WITHOUT n_chars, generation B (odd docs) WITH it; the
    // reader merges schemas (`mergeSchema`) and the absent column
    // surfaces as NULL for old-generation rows. The oracle computes
    // the merged aggregate directly from the documents table (the
    // generations are deterministic slices), so the entry hash-checks
    // Spark's merge + null-coalescing semantics end to end.
    "q258_schema_evolution" -> ((s, d) => {
      val base = "spark-warehouse/graft_bench_schevo_q258"
      ensureStoredIndex("graft_bench_schevo_q258", d) {
        val hp = new org.apache.hadoop.fs.Path(base)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(hp)) fs.delete(hp, true)
        val docs = t(s, d, "documents")
        docs.filter(col("doc_id") % 2 === 0)
          .select("doc_id", "text", "lang")
          .write.parquet(s"$base/gen=a")
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text"), col("lang"),
            length(col("text")).cast("long").as("n_chars"))
          .write.parquet(s"$base/gen=b")
      }
      s.read.option("mergeSchema", "true").parquet(base)
        .groupBy("lang")
        .agg(count(lit(1)).as("cnt"),
          count(col("n_chars")).as("n_with"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),

    // URL canonicalization (r15): the cheap PRE-content dedup key —
    // deterministic mess (uppercased hosts, tracking params,
    // fragments, explicit :443) layered onto the clean form, folded
    // back by pure string expressions; `is_clean` certifies each
    // foldable dirty variant canonicalizes to its clean twin (residue
    // 5's HOSTILE param names — myfbclid=/xutm_source= — must instead
    // SURVIVE, so its is_clean is false by design), and the emitted
    // canon strings hash-check the whole chain including the
    // preserved hostile params.
    "q266_url_canonical" -> ((s, d) => {
      val docs = t(s, d, "documents")
      docs.select(col("doc_id"),
          Url.syntheticUrl(col("doc_id"), col("lang")).as("url"),
          Url.syntheticDirtyUrl(col("doc_id"), col("lang")).as("dirty"))
        .withColumn("canon", Url.canonicalizeUrl(col("dirty")))
        .select(col("doc_id"), col("dirty"), col("canon"),
          (col("canon") === col("url")).as("is_clean"))
        .orderBy("doc_id")
    }),

    // Per-domain quality scorecard (r15): q82's composite quality
    // score grouped by registered domain instead of lang — the
    // domain-level ban/keep signal a curation pass ranks sources by.
    // (EXACT-integer scoring: the double qualityScore lands exactly on
    // a 4-dp half for real docs — doc 299 at sf0.001 scores 0.53575,
    // which Spark's decimal-repr HALF_UP rounds to .5358 and DuckDB's
    // binary round to .5357. The 45-domain groups are too small to
    // dilute the 1e-4, so q267 derives the ×10⁴ score as one exact
    // rational over integer components — (20000·N + D) div (2·D), the
    // q119 rule — identical longs on both engines by construction.)
    "q267_domain_quality" -> ((s, d) =>
      Url.urlParts(
          t(s, d, "documents").withColumn("url",
            Url.syntheticUrl(col("doc_id"), col("lang"))),
          col("url"))
        .select(col("reg_domain"),
          TextAnalysis.wordCount(col("text")).cast("long").as("_wc"),
          TextAnalysis.stopwordCount(col("text")).cast("long").as("_ns"),
          TextAnalysis.punctCount(col("text")).cast("long").as("_np"),
          length(col("text")).cast("long").as("_len"))
        .withColumn("_n", lit(400L) * col("_ns") * col("_len") +
          lit(300L) * (col("_len") - col("_np")) * col("_wc") +
          lit(3L) * least(lit(100L), col("_wc")) * col("_wc") * col("_len"))
        .withColumn("_d", lit(1000L) * col("_wc") * col("_len"))
        .withColumn("_si", expr("(20000 * _n + _d) div (2 * _d)"))
        .groupBy("reg_domain")
        .agg(count(lit(1)).as("n_docs"),
          round(sum("_si") / (lit(10000.0) * count(lit(1))), 4)
            .as("avg_score"),
          sum(when(col("_si") >= 6000L, 1L).otherwise(0L)).as("n_high"))
        .orderBy("reg_domain")),

    // PSL-backed eTLD+1 (r16 — the injectable-suffix-table verdict
    // ask): hosts drawn from every rule SHAPE the published list
    // carries (exact TLD, multi-label registry, private suffix,
    // wildcard zone, wildcard exception), resolved per-doc by the
    // codegen'd RegisteredDomainPslExpr over the in-repo fixture —
    // full value check of every host including the NULL
    // no-registrable-domain case (a bare `siteN.ck` host IS a public
    // suffix under `*.ck`).
    "q268_psl_domain" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          Url.syntheticPslHost(col("doc_id")).as("host"))
        .withColumn("reg_psl",
          Url.registeredDomainPsl(col("host"), Url.PslFixture))
        .orderBy("doc_id")),

    // IDN + percent-encoding canonicalization (r16): encoding TWINS —
    // a punycode host, unreserved percent-escapes, a lowercase-hex
    // reserved escape — synthesized from known clean forms; Spark must
    // actually DECODE (canonicalizeUrlExt: java.net.IDN + RFC 3986
    // escape normalization) while the oracle just re-emits the clean
    // twin it generated from, so the hash compare proves the decode,
    // not a shared shortcut. Unicode literals are \uXXXX escapes
    // (q229 rule); DuckDB builds them with chr().
    "q269_url_idn" -> ((s, d) => {
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("long")
      val m = pmod(h, lit(4))
      val site = concat(lit("site"), pmod(h, lit(5)).cast("string"))
      val pth = concat(lit("/p/"), pmod(col("doc_id"), lit(100)).cast("string"))
      val puny = element_at(array(lit("xn--mnchen-3ya"),
        lit("xn--bcher-kva"), lit("xn--caf-dma")),
        (pmod(h, lit(3)) + 1).cast("int"))
      val uni = element_at(array(lit("m\u00FCnchen"), lit("b\u00FCcher"),
        lit("caf\u00E9")), (pmod(h, lit(3)) + 1).cast("int"))
      val base = concat(lit("https://"), site, lit(".com"))
      val n100 = pmod(col("doc_id"), lit(100)).cast("string")
      val dirty = when(m === 0,
          concat(lit("https://"), puny, lit("."), site, lit(".de"), pth))
        .when(m === 1, concat(base, lit("/p/%64%6Fc-"), n100, lit("#x")))
        .when(m === 2, concat(base, pth, lit("%3fq")))
        .otherwise(concat(base, pth))
      val clean = when(m === 0,
          concat(lit("https://"), uni, lit("."), site, lit(".de"), pth))
        .when(m === 1, concat(base, lit("/p/doc-"), n100))
        .when(m === 2, concat(base, pth, lit("%3Fq")))
        .otherwise(concat(base, pth))
      t(s, d, "documents")
        .select(col("doc_id"), dirty.as("dirty"), clean.as("_want"))
        .withColumn("canon", Url.canonicalizeUrlExt(col("dirty")))
        .select(col("doc_id"), col("dirty"), col("canon"),
          (col("canon") === col("_want")).as("is_clean"))
        .orderBy("doc_id")
    }),

    // Robots-style path-prefix disallow gate (r16): per-domain
    // Disallow rules — a narrow prefix, a whole-domain '/', and a
    // never-matching rule — applied as a broadcast conditional
    // anti-join; the census proves exactly the disallowed paths
    // vanished and untouched domains pass byte-identically.
    "q271_robots_gate" -> ((s, d) => {
      import s.implicits._
      val parts = Url.urlParts(
        t(s, d, "documents").withColumn("url",
          Url.syntheticUrl(col("doc_id"), col("lang"))),
        col("url"))
      Url.robotsGate(parts, RobotsRules.toDF("reg_domain", "path_prefix"))
        .groupBy("reg_domain")
        .agg(count(lit(1)).as("n_allowed"), sum("doc_id").as("id_sum"))
        .orderBy("reg_domain")
    }),

    // Tiered per-domain cap (r16): the RefinedWeb-style differentiated
    // quota — a (reg_domain, cap) table (here md5-derived tiers over a
    // third of the domains; the rest fall back to the default) drives
    // perDomainCapBy's variable rank filter; kept sets pinned by the
    // exact id-sum checksum (q132 rule).
    "q273_tiered_domain_cap" -> ((s, d) => {
      val parts = Url.urlParts(
        t(s, d, "documents").withColumn("url",
          Url.syntheticUrl(col("doc_id"), col("lang"))),
        col("url"))
      val hd = conv(substring(md5(col("reg_domain")), 1, 4), 16, 10)
        .cast("long")
      val caps = parts.select("reg_domain").distinct()
        .filter(pmod(hd, lit(3)) === 0)
        .select(col("reg_domain"), (lit(4L) + pmod(hd, lit(5))).as("cap"))
      Url.perDomainCapBy(parts, "doc_id", caps, defaultCap = 12L)
        .groupBy("reg_domain")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("kept_id_sum"))
        .orderBy("reg_domain")
    }),

    // Authority-weighted quotas (r16): the full-circle composition —
    // q272's link-graph PageRank sets each domain's cap (5 + ⌊rank·8⌋:
    // ·8 is a POWER OF TWO so the product of the 4-dp-rounded rank is
    // exact and the floor cannot straddle an engine ulp), q273's
    // variable-cap operator enforces it. Trusted (linked-to) sources
    // keep more documents; the scorecard carries rank, cap, and the
    // kept checksum per domain.
    // Route-template census (r16): digit runs in paths collapse to
    // '{n}' and each (domain, template) is counted with its EXACT
    // integer within-domain share — the crawl-trap detector (a
    // calendar route shows up as one template with outsized share).
    // The synthetic mix plants three route families per domain.
    "q278_url_templates" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("long")
      val pth = when(pmod(h, lit(3)) === 0,
          concat(lit("/article/"), col("doc_id").cast("string")))
        .when(pmod(h, lit(3)) === 1,
          concat(lit("/p/"), pmod(col("doc_id"), lit(100)).cast("string"),
            lit("/rev"), pmod(h, lit(7)).cast("string")))
        .otherwise(concat(lit("/cal/2021/"),
          (pmod(h, lit(12)) + 1).cast("string")))
      val url = concat(lit("https://site"), pmod(h, lit(5)).cast("string"),
        lit(".com"), pth)
      val parts = Url.urlParts(docs.withColumn("url", url), col("url"))
      Url.routeCensus(parts).orderBy("reg_domain", "template")
    }),

    // Span corruption (r16): deterministic T5/UL2 denoising data prep
    // — md5-marked token blocks become numbered sentinels in the
    // input, the target lists each sentinel + its hidden tokens; both
    // full strings ride the hash compare, so block selection, sentinel
    // numbering AND token reassembly are all proven byte-identical.
    "q279_span_corrupt" -> ((s, d) =>
      Pipeline.spanCorrupt(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // Policy-gate admission (r16 — the NINTH axis, stateless): PII
    // density + quality floor at the door, rejects QUARANTINED with a
    // reason. The entry runs the real batch-admission API (output +
    // quarantine side effects under spark-warehouse) and reads both
    // back; the oracle recomputes the per-doc decision from the same
    // planted corpus.
    "q281_policy_gate" -> ((s, d) => {
      val outPath = "spark-warehouse/graft_bench_policy_q281_out"
      val qPath = "spark-warehouse/graft_bench_policy_q281_quar"
      ensureStoredIndex("graft_bench_policy_q281", d) {
        val conf = s.sparkContext.hadoopConfiguration
        Seq(outPath, qPath).foreach { pth =>
          val hp = new org.apache.hadoop.fs.Path(pth)
          val fs = hp.getFileSystem(conf)
          if (fs.exists(hp)) fs.delete(hp, true)
        }
        val batch = t(s, d, "documents").select(col("doc_id"), col("lang"),
          Pii.syntheticPiiText(col("doc_id"), col("text")).as("text"))
        graft.streaming.StreamingDedup.admitBatchPolicyGate(
          batch, "doc_id", "text", outPath, qPath,
          maxPiiHits = PolicyMaxPii, minQuality = PolicyMinQuality)
      }
      s.read.parquet(outPath)
        .select(col("doc_id"), col("lang"), lit("admitted").as("status"))
        .unionByName(s.read.parquet(qPath)
          .select(col("doc_id"), col("lang"), col("reason").as("status")))
        .orderBy("doc_id")
    }),

    // UL2 mixture-of-denoisers (r16): each doc draws its objective by
    // md5 — R (short spans: block 3, 1-in-6), X (long/aggressive:
    // block 8, 1-in-3), or S (prefix-LM 3/4 split). Three map-only
    // branches unioned; the full input/target pairs are hash-compared
    // per mode.
    "q280_ul2_mixture" -> ((s, d) =>
      ul2Mixture(t(s, d, "documents")).orderBy("doc_id")),

    // Denoiser-pack capstone (r16): the mixture's encoder inputs
    // packed into 256-token training batches per objective — q280's
    // frame through q55's packSequences, proving the transforms
    // compose the way a batch-prep pipeline runs them.
    "q282_denoiser_packs" -> ((s, d) =>
      Pipeline.packSequences(ul2Mixture(t(s, d, "documents")),
          "doc_id", "input", byCol = "mode", capacity = 256)
        .orderBy("mode", "pack_id")),

    // PII scorecard (r16): deterministic synthetic PII planted on the
    // corpus (md5 arithmetic both engines reproduce — emails, valid
    // AND out-of-range IPv4s, phones, SSNs, a card number per doc),
    // then per-language totals per class + the multi-class doc count.
    // Map-only detection (codegen'd regexp_count), one hash agg.
    "q275_pii_scorecard" -> ((s, d) => {
      val dirty = t(s, d, "documents").select(col("lang"),
        Pii.syntheticPiiText(col("doc_id"), col("text")).as("dirty"))
      val classes = Pii.Classes.map(_._1)
      val present = classes.map(n =>
        when(col(s"c.n_$n") > 0, 1L).otherwise(0L)).reduce(_ + _)
      dirty.select(col("lang"), Pii.piiCounts(col("dirty")).as("c"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          classes.map(n => sum(col(s"c.n_$n")).as(s"n_$n")) :+
            sum(when(present >= 3, 1L).otherwise(0L)).as("n_docs_multi"): _*)
        .orderBy("lang")
    }),

    // PII redaction (r16): every class replaced with its typed
    // placeholder in Pii.Classes order; the full redacted text rides
    // the hash compare, so byte-identical replacement (order, 'g'
    // semantics, boundary anchoring) is what the oracle proves.
    "q276_pii_redact" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          Pii.syntheticPiiText(col("doc_id"), col("text")).as("dirty"))
        .select(col("doc_id"), Pii.piiHits(col("dirty")).as("n_hits"),
          Pii.redactPii(col("dirty")).as("redacted"))
        .orderBy("doc_id")),

    // Luhn precision census (r16): 16-digit FORMAT hits vs checksum-
    // VALID hits per language — the scrubber-precision split. The
    // 16-term Luhn sum is generated from one Scala loop on both sides
    // (Pii.luhnValid / Pii.luhnValidSql), so the arithmetic cannot
    // drift between engines.
    "q277_cc_luhn" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang"),
          regexp_extract(
            Pii.syntheticPiiText(col("doc_id"), col("text")),
            Pii.CcRe, 0).as("cc"))
        .filter(col("cc") =!= "")
        .select(col("lang"), Pii.luhnValid(col("cc")).as("ok"),
          pmod(col("cc").cast("long"), lit(1000000007L)).as("m"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_cc"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_luhn_valid"),
          sum("m").as("cc_checksum"))
        .orderBy("lang")),

    "q274_authority_cap" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("long")
      val t1 = pmod(h + col("doc_id") * 3 + 1, lit(997))
      val t2 = pmod(h * 5 + col("doc_id") + 2, lit(997))
      val withLinks = docs.select(
        Url.syntheticUrl(col("doc_id"), col("lang")).as("url"),
        concat(col("text"), lit(" see "),
          Url.syntheticUrl(t1, lit("en")), lit(" and "),
          Url.syntheticUrl(t2, lit("en")), lit(" end")).as("text2"))
      val e = withLinks
        .select(col("url"),
          explode(Url.extractUrls(col("text2"))).as("link"))
        .select(
          Url.registeredDomain(try_parse_url(col("url"), lit("HOST")))
            .as("src"),
          Url.registeredDomain(try_parse_url(col("link"), lit("HOST")))
            .as("dst"))
        .filter(col("src") =!= col("dst"))
      // One 45-row materialization (r16 advice item 2): the authority
      // frame is referenced ~4× (caps derivation + two readout joins);
      // pageRank's fixed 3-round chain is fully lazy since r16, so
      // without this each reference would re-run the chain and the
      // double-precision round sums could merge in different orders per
      // execution — rank and floor(rank·8) in one output row must come
      // from ONE computation. (Also saves 3 re-runs of the chain.)
      val authority = Graph.pageRank(e, "src", "dst", PrIters, PrDamping)
        .select(col("node").as("reg_domain"),
          round(col("rank"), 4).as("rank"))
        .transform(Materialize(_))
      val caps = authority.select(col("reg_domain"),
        (lit(5L) + floor(col("rank") * 8).cast("long")).as("cap"))
      val parts = Url.urlParts(
        docs.withColumn("url",
          Url.syntheticUrl(col("doc_id"), col("lang"))),
        col("url"))
      Url.perDomainCapBy(parts, "doc_id", caps, defaultCap = 12L)
        .groupBy("reg_domain")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("kept_id_sum"))
        .join(authority, Seq("reg_domain"), "left")
        .join(caps.withColumnRenamed("cap", "cap_used"),
          Seq("reg_domain"), "left")
        .select(col("reg_domain"), col("rank"),
          coalesce(col("cap_used"), lit(12L)).as("cap"),
          col("n_kept"), col("kept_id_sum"))
        .orderBy("reg_domain")
    }),

    // Domain authority (r16): outlinks HARVESTED from text
    // (Url.extractUrls — two deterministic embedded links per doc) →
    // registered-domain edge set → 3-iteration PageRank over the
    // 45-domain graph (q118's operator, directed: in-links confer
    // authority) → top-20 — the centrality signal curation recipes
    // rank sources by. The oracle never extracts: it derives each
    // link's DOMAIN from the same md5 arithmetic, so the hash compare
    // proves the extract→parse→rollup chain.
    "q272_domain_authority" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("long")
      val t1 = pmod(h + col("doc_id") * 3 + 1, lit(997))
      val t2 = pmod(h * 5 + col("doc_id") + 2, lit(997))
      val withLinks = docs.select(
        Url.syntheticUrl(col("doc_id"), col("lang")).as("url"),
        concat(col("text"), lit(" see "),
          Url.syntheticUrl(t1, lit("en")), lit(" and "),
          Url.syntheticUrl(t2, lit("en")), lit(" end")).as("text2"))
      val e = withLinks
        .select(col("url"),
          explode(Url.extractUrls(col("text2"))).as("link"))
        .select(
          Url.registeredDomain(try_parse_url(col("url"), lit("HOST")))
            .as("src"),
          Url.registeredDomain(try_parse_url(col("link"), lit("HOST")))
            .as("dst"))
        .filter(col("src") =!= col("dst"))
      Graph.pageRankTopK(e, "src", "dst", PrIters, PrTopK, PrDamping)
    }),

    // Canonical-URL exact-dedup ADMISSION, oracle-checked (r16 — the
    // EIGHTH admission axis, the crawler's cheap pre-content gate):
    // standing canonical keys from the every-10th-doc history, one
    // batch of odd docs carrying DIRTY urls admitted one-per-canonical-
    // key (content-keyed rank) and rejected against the stored index.
    "q270_url_dedup_admission" -> ((s, d) => {
      val outPath = "spark-warehouse/graft_bench_urldedup_q270_out"
      ensureStoredIndex("graft_bench_urldedup_q270", d) {
        val hp = new org.apache.hadoop.fs.Path(outPath)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(hp)) fs.delete(hp, true)
        val docs = t(s, d, "documents")
        val hist = docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"),
            Url.syntheticUrl(col("doc_id"), col("lang")).as("url"))
        Warehouse.save(Layout.UrlKeys, "graft_bench_urldedup_q270",
          hist.select(col("doc_id"),
            Url.canonicalizeUrlExt(col("url")).as("url_key")))
        graft.streaming.StreamingDedup.admitBatchUrlDedup(
          docs.filter(col("doc_id") % 2 === 1)
            .select(col("doc_id"), col("lang"),
              Url.syntheticDirtyUrl(col("doc_id"), col("lang")).as("url")),
          "doc_id", "url", "graft_bench_urldedup_q270", outPath)
      }
      s.read.parquet(outPath).select("doc_id", "lang").orderBy("doc_id")
    }),

    // Web-curation capstone (r15 — the one-recipe entry over the new
    // family, the q90/q230/q250 precedent): parse URLs → blocklist
    // gate (r16: three banned domains anti-joined broadcast at parse
    // time — governance rejects must not burn quota or pair budget) →
    // exact dedup (min-id per identical text) → near-dup clusters at
    // 0.6 (q67 closure, min-id rep survives) → per-domain cap →
    // per-domain scorecard (raw / deduped / kept / kept-id checksum).
    // The stage ORDER is the standard recipe's: dedup globally on
    // content FIRST (a mirror on two domains burns quota nowhere),
    // cap per domain LAST (the quota applies to unique content).
    "q265_curation_recipe" -> ((s, d) => {
      import s.implicits._
      // parts is read by the exact-dedup key pass, the semi join, the
      // auto-dispatch sample, and the raw census (r16: the URL parse +
      // blocklist anti-join executed ~5× per run); s1 feeds the pair
      // pipeline AND the two survivor censuses. One doc-sized
      // materialization each.
      val parts = Url.blocklistFilter(
        Url.urlParts(
          t(s, d, "documents").withColumn("url",
            Url.syntheticUrl(col("doc_id"), col("lang"))),
          col("url")),
        BlockedDomains.toDF("reg_domain")).transform(Materialize(_))
      val keepExact = parts.groupBy(md5(col("text")).as("_h"))
        .agg(min("doc_id").as("doc_id")).select("doc_id")
      val s1 = parts.join(keepExact, Seq("doc_id"), "left_semi")
        .transform(Materialize(_))
      // jaccardPairsAuto: the cost-based direct-vs-PPJoin dispatch
      // (q26's posture) — identical exact output either way
      val pairs = Dedup.jaccardPairsAuto(s1, "doc_id", "text",
        n = 3, threshold = 0.6)
      val drop = Dedup.dedupClusters(pairs, "da", "db")
        .filter(col("node") =!= col("lbl"))
        .select(col("node").as("doc_id"))
      val s2 = s1.join(drop, Seq("doc_id"), "left_anti")
      val s3 = Url.perDomainCap(s2, "doc_id", DomainCapK)
      parts.groupBy("reg_domain").agg(count(lit(1)).as("n_raw"))
        .join(s2.groupBy("reg_domain")
          .agg(count(lit(1)).as("_nd")), Seq("reg_domain"), "left")
        .join(s3.groupBy("reg_domain")
          .agg(count(lit(1)).as("_nk"), sum("doc_id").as("_ks")),
          Seq("reg_domain"), "left")
        .select(col("reg_domain"), col("n_raw"),
          coalesce(col("_nd"), lit(0L)).as("n_deduped"),
          coalesce(col("_nk"), lit(0L)).as("n_kept"),
          coalesce(col("_ks"), lit(0L)).as("kept_id_sum"))
        .orderBy("reg_domain")
    }),

    // Per-domain cap ADMISSION, oracle-checked (r15 — the SEVENTH
    // admission axis, and the first source-governance one: quota, not
    // similarity): standing per-domain counts from the already-ingested
    // history (every 10th doc), one batch of odd docs admitted up to
    // DomainCapAdmit per registered domain by the content-keyed rank.
    "q264_domain_cap_admission" -> ((s, d) => {
      val outPath = "spark-warehouse/graft_bench_domadmit_q264_out"
      ensureStoredIndex("graft_bench_domadmit_q264", d) {
        val hp = new org.apache.hadoop.fs.Path(outPath)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(hp)) fs.delete(hp, true)
        val withUrl = t(s, d, "documents").withColumn("url",
          Url.syntheticUrl(col("doc_id"), col("lang")))
        val standing = Url.urlParts(
            withUrl.filter(col("doc_id") % 10 === 0), col("url"))
          .select(coalesce(col("reg_domain"), lit("(invalid-url)"))
            .as("reg_domain"))
          .groupBy("reg_domain").agg(count(lit(1)).as("n"))
          // seeded history lives in the NEGATIVE stamp namespace
          // (Layout.DomainCounts contract) — a 0 stamp would collide with
          // a streaming run's first micro-batch id
          .withColumn("batch_id", lit(-1L))
        Warehouse.save(Layout.DomainCounts, "graft_bench_domadmit_q264",
          standing)
        graft.streaming.StreamingDedup.admitBatchDomainCap(
          withUrl.filter(col("doc_id") % 2 === 1)
            .select("doc_id", "lang", "url"),
          "doc_id", "url", "graft_bench_domadmit_q264", outPath,
          cap = DomainCapAdmit)
      }
      s.read.parquet(outPath).select("doc_id", "lang").orderBy("doc_id")
    }),

    // Schema migration — the WRITE half of q258 (r15 verdict stretch):
    // the same two-generation layout is rewritten ONCE to a unified
    // schema (lang RENAMED to language, n_chars added with an explicit
    // length(text) default + long cast for the old generation), via
    // the staging-dir + atomic-rename discipline. The readback is a
    // PLAIN parquet read — no mergeSchema, no coalescing: the proof
    // the migration removed the read-time tax. Oracle computes the
    // unified aggregate from the documents table directly.
    "q263_schema_migrate" -> ((s, d) => {
      val base = "spark-warehouse/graft_bench_schmig_q263"
      ensureStoredIndex("graft_bench_schmig_q263", d) {
        val hp = new org.apache.hadoop.fs.Path(base)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(hp)) fs.delete(hp, true)
        val docs = t(s, d, "documents")
        docs.filter(col("doc_id") % 2 === 0)
          .select("doc_id", "text", "lang")
          .write.parquet(s"$base/gen=a")
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text"), col("lang"),
            length(col("text")).cast("long").as("n_chars"))
          .write.parquet(s"$base/gen=b")
        graft.sources.Warehouse.migrateSchema(s, base,
          renames = Map("lang" -> "language"),
          casts = Map("n_chars" -> "long"),
          addDefaults = Map("n_chars" -> length(col("text")).cast("long")),
          partitionCols = Seq("gen"))
      }
      s.read.parquet(base)
        .groupBy("language")
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("sum_chars"))
        .orderBy("language")
    }),

    // Batch winnowing admission, oracle-checked (r14 — the q251
    // composition for the SIXTH admission axis): standing winnowing
    // index from the even docs, odd docs arrive as one batch; admitted
    // = batch minus within-batch shared-fingerprint cluster
    // non-representatives (>= WinnowMinShared shared screened hashes,
    // min-id rep) minus docs matching ANY indexed doc at the same
    // threshold. Short docs (< k+w-1 words) admitted by contract.
    "q257_winnow_admission" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val outPath = "spark-warehouse/graft_bench_wadmit_q257_out"
      ensureStoredIndex("graft_bench_wadmit_q257", d) {
        val hp = new org.apache.hadoop.fs.Path(outPath)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(hp)) fs.delete(hp, true)
        val idx = docs.filter(col("doc_id") % 2 === 0)
        val sel = Dedup.winnowingFingerprints(idx, "doc_id", "text",
            WinnowK, WinnowW)
          .select(col("doc_id"), col("fp_hash")).distinct().transform(Materialize(_))
        val rare = sel.groupBy("fp_hash").agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= WinnowMaxDf).select("fp_hash")
        Warehouse.save(Layout.Winnow, "graft_bench_wadmit_q257",
          sel.join(rare, "fp_hash"))
        graft.streaming.StreamingDedup.admitBatchWinnow(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          "graft_bench_wadmit_q257", outPath,
          k = WinnowK, w = WinnowW, maxDf = WinnowMaxDf,
          minShared = WinnowMinShared)
      }
      s.read.parquet(outPath).select("doc_id", "lang").orderBy("doc_id")
    }),

    // URL parse + registered domain (r15 — the named web-curation
    // stage with no operator until now): a deterministic URL per doc
    // (md5 arithmetic both engines reproduce), parsed by the built-in
    // parse_url into host/path/q-param, host rolled to eTLD+1 under
    // the documented heuristic. Map-only — no shuffle, no UDF.
    "q259_url_parse" -> ((s, d) =>
      Url.urlParts(
          t(s, d, "documents").withColumn("url",
            Url.syntheticUrl(col("doc_id"), col("lang"))),
          col("url"))
        .select("doc_id", "url", "host", "reg_domain", "url_path",
          "q_param")
        .orderBy("doc_id")),

    // Per-domain census + the C4-style document cap (r15): registered
    // domains rolled up (docs, hosts, langs, chars), then at most
    // DomainCapK docs kept per domain by the content-keyed (md5, id)
    // rank — kept set pinned by the exact id-sum checksum (q132 rule).
    "q260_domain_cap" -> ((s, d) => {
      val parts = Url.urlParts(
        t(s, d, "documents").withColumn("url",
          Url.syntheticUrl(col("doc_id"), col("lang"))),
        col("url"))
      val kept = Url.perDomainCap(parts, "doc_id", DomainCapK)
        .groupBy("reg_domain")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("kept_id_sum"))
      Url.domainRollup(parts, col("n_chars"))
        .join(kept, "reg_domain")
        .orderBy("reg_domain")
    }),

    // Per-domain duplication audit (r15): exact-dup surplus (q25's
    // hash-groupBy keyed by domain) + verified near-dup pairs with
    // BOTH sides in the same domain (q26's generator composed with
    // the domain map) — the "is this domain a mirror farm" readout
    // that drives per-domain cap/ban decisions.
    "q261_domain_dup" -> ((s, d) =>
      Url.domainDupStats(
          Url.urlParts(
            t(s, d, "documents").withColumn("url",
              Url.syntheticUrl(col("doc_id"), col("lang"))),
            col("url")),
          "doc_id", "text", DomainDupJac)
        .orderBy("reg_domain")),

    // Tokenizer model at rest (r13, Layout.Plain +
    // Bpe.applyStats): q185's merges learned on the EVEN docs, stored,
    // replayed over the ODD docs as one chained-replace map-only scan
    // — the fertility/compression readout on held-out text. Completes
    // the models-at-rest trio (NB q242, centroids q245, BPE here).
    "q249_bpe_apply" -> ((s, d) => {
      val docs = t(s, d, "documents")
      ensureStoredIndex("graft_bench_bpe_q249", d) {
        Warehouse.save(Layout.Plain, "graft_bench_bpe_q249",
          Bpe.mergeTable(docs.filter(col("doc_id") % 2 === 0), "text", 8))
      }
      Bpe.applyStats(docs.filter(col("doc_id") % 2 === 1), "text", "lang",
          s.table("graft_bench_bpe_q249"))
        .orderBy("lang")
    }),

    // Shipping-delay distribution — days from order to ship per
    // priority class: the logistics SLA readout. Day differences are
    // exact integers; the mean is exact integer division (q119 rule)
    // and the p95 an exact ELEMENT (q94/q137 trick).
    "q164_ship_delay" -> ((s, d) =>
      t(s, d, "orders")
        .join(t(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .withColumn("_delay", datediff(col("l_shipdate"), col("o_orderdate"))
          .cast("long"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum("_delay").as("_s"),
          percentile_approx(col("_delay"), lit(0.95), lit(1000000))
            .as("p95_delay"),
          max("_delay").as("max_delay"))
        .select(col("o_orderpriority"), col("n_items"),
          expr("_s div n_items").as("avg_delay"),
          col("p95_delay"), col("max_delay"))
        .orderBy("o_orderpriority")),

    // Late-order census (the TPC-H Q4 shape): orders per priority
    // class with AT LEAST ONE lineitem shipped after the order date —
    // the EXISTS predicate as a left-semi join whose condition spans
    // both sides; date comparisons are exact on every engine.
    "q162_late_orders" -> ((s, d) =>
      t(s, d, "orders")
        .join(t(s, d, "lineitem"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_late_orders"))
        .orderBy("o_orderpriority")),

    // Workload-mix shift — each class's share of events before vs
    // after the broadcast midpoint, with the delta: the one-screen
    // "what changed in the mix" readout (exact-count divisions).
    "q163_mix_shift" -> ((s, d) => {
      val ev = CoreQueries.events(s, d).withColumn("us", expr("ts_ns div 1000"))
      val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("_mid"))
      ev.crossJoin(broadcast(mid))
        .withColumn("_ref", col("us") <= col("_mid"))
        .groupBy("event_type")
        .agg(count(when(col("_ref"), lit(1))).as("n_before"),
          count(when(!col("_ref"), lit(1))).as("n_after"))
        .crossJoin(broadcast(
          ev.crossJoin(broadcast(mid))
            .agg(count(when(col("us") <= col("_mid"), lit(1))).as("_tb"),
              count(when(col("us") > col("_mid"), lit(1))).as("_ta"))))
        .select(col("event_type"), col("n_before"), col("n_after"),
          round(col("n_before").cast("double") / col("_tb"), 4).as("share_before"),
          round(col("n_after").cast("double") / col("_ta"), 4).as("share_after"),
          round(col("n_after").cast("double") / col("_ta") -
            col("n_before").cast("double") / col("_tb"), 4).as("share_delta"))
        .orderBy("event_type")
    }),

    // Local-supplier volume (the TPC-H Q5 shape): revenue from
    // lineitems where customer and supplier share a nation — the
    // 5-table star join exercised as one declarative plan (fact scans
    // once; every dimension broadcasts; the c_nationkey = s_nationkey
    // predicate rides the join, never a cross product).
    "q161_local_volume" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))),

    // Longest activity streak — per user, the maximum run of
    // CONSECUTIVE active days (gaps-and-islands on the distinct day
    // set: day − row_number is constant within a run): the engagement
    // metric next to q114's retention. Exact integers end to end.
    "q159_streaks" -> ((s, d) => {
      val days = CoreQueries.events(s, d)
        .select(col("user_id"),
          expr(s"(ts_ns div 1000) div $DayUs").as("day"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("day")
      days.withColumn("_grp", col("day") - row_number().over(w))
        .groupBy("user_id", "_grp")
        .agg(count(lit(1)).as("_len"))
        .groupBy("user_id")
        .agg(max("_len").as("longest_streak"),
          count(lit(1)).as("n_streaks"))
        .orderBy("user_id")
    }),

    // Cross-language vocabulary overlap — Jaccard of each lang pair's
    // top-50 token sets (deterministic (count desc, token) ranking):
    // the contamination/borrowing screen between corpus slices; the
    // pair join runs over 5×50 rows.
    "q160_vocab_overlap" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("_c").desc, col("token"))
      val top = t(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("_c"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= VocabTopN)
        .select("lang", "token")
      val inter = top.select(col("lang").as("la"), col("token"))
        .join(top.select(col("lang").as("lb"), col("token")), Seq("token"))
        .filter(col("la") < col("lb"))
        .groupBy("la", "lb").agg(count(lit(1)).as("common"))
      inter
        .withColumn("jaccard",
          round(col("common").cast("double") /
            (lit(2 * VocabTopN) - col("common")), 4))
        .orderBy("la", "lb")
    }),

    // Funnel drop-off table — q113's counts with stage-to-stage
    // conversion ratios (lag over the 3-row stage frame): the rate
    // column a funnel chart is actually labeled with.
    "q155_funnel_dropoff" -> ((s, d) => {
      val f = Behavior.funnel(CoreQueries.events(s, d), "user_id",
        expr("ts_ns div 1000"), col("event_type"), FunnelStages)
      val w = org.apache.spark.sql.expressions.Window.orderBy("stage_ord")
      f.withColumn("_prev", lag(col("n_entities"), 1).over(w))
        .withColumn("conv_rate",
          when(col("_prev").isNotNull,
            round(col("n_entities").cast("double") / col("_prev"), 4)))
        .select("stage_ord", "stage", "n_entities", "conv_rate")
        .orderBy("stage_ord")
    }),

    // Weekday/weekend load split — day-of-week from pure epoch
    // arithmetic ((days + 3) % 7 maps epoch day 0 (a Thursday) to 3 in
    // a Mon=0..Sun=6 week, so >= 5 selects Saturday+Sunday; no calendar
    // functions): per class, both loads and their ratio.
    "q156_weekpart" -> ((s, d) =>
      CoreQueries.events(s, d)
        .withColumn("_dow", expr(s"((ts_ns div 1000) div $DayUs + 3) % 7"))
        .withColumn("_we", col("_dow") >= 5)
        .groupBy("event_type")
        .agg(count(when(!col("_we"), lit(1))).as("wd_cnt"),
          count(when(col("_we"), lit(1))).as("we_cnt"),
          round(sum(when(!col("_we"), col("value"))), 4).as("wd_load"),
          round(sum(when(col("_we"), col("value"))), 4).as("we_load"))
        .withColumn("we_share",
          round(col("we_cnt").cast("double") /
            (col("wd_cnt") + col("we_cnt")), 4))
        .orderBy("event_type")),

    // Share-of-voice series — each class's share of daily events
    // (exact-count division against the day total): the stacked-area
    // view of workload mix over time.
    "q157_share_of_voice" -> ((s, d) => {
      val daily = CoreQueries.events(s, d)
        .withColumn("day", expr(s"(ts_ns div 1000) div $DayUs"))
        .groupBy("day", "event_type").agg(count(lit(1)).as("cnt"))
      val tot = daily.groupBy("day").agg(sum("cnt").as("_tot"))
      daily.join(tot, "day")
        .select(col("day"), col("event_type"), col("cnt"),
          round(col("cnt").cast("double") / col("_tot"), 4).as("share"))
        .orderBy("day", "event_type")
    }),

    // Dedup economics — what exact dedup would buy: per lang, the
    // non-canonical copies and the bytes they hold (q25's groups
    // rolled to the cost ledger a storage owner reads).
    "q158_dedup_savings" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy("lang", "text")
        .agg(count(lit(1)).as("_copies"), min("doc_id").as("_canon"))
        .groupBy("lang")
        .agg(sum(col("_copies") - 1).as("dup_docs"),
          sum((col("_copies") - 1) * length(col("text"))).as("bytes_saved"))
        .orderBy("lang")),

    // Diurnal profile — per class, the hour-of-day load shape (UTC
    // hours from pure epoch arithmetic — no calendar functions, so
    // both engines bucket identically); the seasonality read behind
    // capacity planning and the q100 anomaly baselines.
    "q154_diurnal" -> ((s, d) =>
      CoreQueries.events(s, d)
        .withColumn("hod",
          expr("((ts_ns div 1000) div 3600000000) % 24").cast("long"))
        .groupBy("event_type", "hod")
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("load"))
        .orderBy("event_type", "hod")),

    // Box-plot outlier census — per class, Tukey fences at Q1/Q3 ±
    // 1.5·IQR (exact interpolating quartiles, q23's contract) and the
    // count outside them; quartiles and fences are identical doubles
    // on both engines, so the comparisons agree exactly.
    "q152_iqr_outliers" -> ((s, d) => {
      val q = CoreQueries.events(s, d)
        .groupBy("event_type")
        .agg(expr("percentile(value, 0.25)").as("_q1"),
          expr("percentile(value, 0.75)").as("_q3"))
        .withColumn("_lo", col("_q1") - (col("_q3") - col("_q1")) * 1.5)
        .withColumn("_hi", col("_q3") + (col("_q3") - col("_q1")) * 1.5)
      CoreQueries.events(s, d)
        .join(broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          count(when(col("value") < col("_lo") || col("value") > col("_hi"),
            lit(1))).as("n_outliers"),
          round(first("_lo"), 4).as("lo_fence"),
          round(first("_hi"), 4).as("hi_fence"))
        .orderBy("event_type")
    }),

    // Session-level co-occurrence — which event types happen in the
    // SAME session (q138's islands as transactions, q126's association
    // machinery): the composition capstone of the behavioral family.
    "q153_session_cooccur" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("_us", "event_id")
      val sess = CoreQueries.events(s, d)
        .withColumn("_us", expr("ts_ns div 1000"))
        .withColumn("_new",
          when(lag(col("_us"), 1).over(w).isNull ||
            col("_us") - lag(col("_us"), 1).over(w) > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("_sid", sum("_new").over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")
            .orderBy("_us", "event_id")
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, 0)))
        .select(concat_ws("#", col("user_id"), col("_sid")).as("tx"),
          col("event_type").as("item"))
      Behavior.associationPairs(sess, "tx", "item", minSupport = 2L,
        topK = 20)
    }),

    // Second-order transitions — q121 one step deeper: top (a→b→c)
    // trigram counts with P(c | a,b) — the context-sensitive Markov
    // summary (two stacked leads on ONE entity-key shuffle, a
    // |types|³-keyed count, one exact-count division).
    "q151_trigrams" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(expr("ts_ns div 1000"), col("event_id"))
      val tri = CoreQueries.events(s, d)
        .withColumn("_b", lead(col("event_type"), 1).over(w))
        .withColumn("_c", lead(col("event_type"), 2).over(w))
        .filter(col("_c").isNotNull)
        .groupBy(col("event_type").as("t1"), col("_b").as("t2"),
          col("_c").as("t3"))
        .agg(count(lit(1)).as("cnt"))
      val ctx = tri.groupBy("t1", "t2").agg(sum("cnt").as("_ctx"))
      tri.join(ctx, Seq("t1", "t2"))
        .select(col("t1"), col("t2"), col("t3"), col("cnt"),
          round(col("cnt").cast("double") / col("_ctx"), 4).as("prob"))
        .orderBy("t1", "t2", "t3")
    }),

    // RFM segmentation — the classic customer-value grid
    // (Behavior.rfmSegments): recency/frequency/monetary each
    // quartiled, concatenated to a segment code, segments counted.
    // Round 11 replaced the three unpartitioned ntile windows (an
    // entity-frame-sized single-reducer cliff) with globalRank +
    // arithmetic tile recovery — bit-identical output (the remainder
    // rule is ntile's own), so the oracle's ntile formulation stands.
    // Ties split on (metric desc, user_id) on both engines.
    "q149_rfm" -> ((s, d) =>
      Behavior.rfmSegments(CoreQueries.events(s, d), "user_id",
          expr("ts_ns div 1000"), col("value"))
        .orderBy("rfm")),

    // Daily latency bands — exact p50/p95 of value per (class, day):
    // the band chart a latency dashboard draws; exact interpolating
    // percentile (q23's contract) over small-magnitude values.
    "q150_daily_bands" -> ((s, d) =>
      CoreQueries.events(s, d)
        .withColumn("day", expr(s"(ts_ns div 1000) div $DayUs"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("cnt"),
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.95)"), 4).as("p95"))
        .orderBy("event_type", "day")),

    // Leading-digit (Benford) audit — the data-forensics screen for
    // fabricated or truncated numeric columns: observed leading-digit
    // frequencies next to Benford's log10(1+1/d) expectation. The
    // digit extracts ARITHMETICALLY (v / 10^⌊log10 v⌋) — printf-style
    // string formatting differs between Java (half-up) and C
    // (half-even) and is banned from oracle surfaces.
    "q147_benford" -> ((s, d) =>
      CoreQueries.events(s, d)
        .filter(col("value") >= 1.0)
        .withColumn("_d",
          floor(col("value") / pow(lit(10.0), floor(log10(col("value")))))
            .cast("long"))
        .groupBy(col("_d").as("digit"))
        .agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(CoreQueries.events(s, d)
          .filter(col("value") >= 1.0).agg(count(lit(1)).as("_n"))))
        .select(col("digit"), col("cnt"),
          round(col("cnt").cast("double") / col("_n"), 4).as("freq"),
          round(log10(lit(1.0) + lit(1.0) / col("digit")), 4).as("benford"))
        .orderBy("digit")),

    // Cumulative user-growth curve: new users per day (first-activity
    // day) and the running total — the adoption curve next to q114's
    // retention triangle; window over calendar-bounded rows.
    "q148_user_growth" -> ((s, d) => {
      val firstDay = CoreQueries.events(s, d)
        .groupBy("user_id")
        .agg(min(expr(s"(ts_ns div 1000) div $DayUs")).as("day"))
      firstDay.groupBy("day").agg(count(lit(1)).as("new_users"))
        .withColumn("total_users", sum("new_users").over(
          org.apache.spark.sql.expressions.Window.orderBy("day")
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, 0)))
        .orderBy("day")
    }),

    // Lag-1 autocorrelation of the hourly load per class — burst
    // persistence ("does a hot hour predict the next?"). The series
    // DENSIFIES first (q124's operator): silent hours must be zeros or
    // the lag pairs skip them and the statistic lies; then one lead
    // window per class and the closed-form correlation over the
    // rounded series.
    "q146_autocorr" -> ((s, d) => {
      val hourly = CoreQueries.events(s, d)
        .withColumn("hb", expr("(ts_ns div 1000) div 3600000000"))
        .groupBy("event_type", "hb")
        .agg(round(sum("value"), 4).as("cnt"))
      val dense = Qan.densify(hourly, "event_type", "hb", "cnt")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("hb")
      dense
        .withColumn("_nx", lead(col("cnt"), 1).over(w))
        .filter(col("_nx").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          sum("cnt").as("_sy"), sum("_nx").as("_sz"),
          sum(col("cnt") * col("cnt")).as("_syy"),
          sum(col("_nx") * col("_nx")).as("_szz"),
          sum(col("cnt") * col("_nx")).as("_syz"))
        .select(col("event_type"), col("n_pairs"),
          round((col("n_pairs") * col("_syz") - col("_sy") * col("_sz")) /
            sqrt((col("n_pairs") * col("_syy") - col("_sy") * col("_sy")) *
              (col("n_pairs") * col("_szz") - col("_sz") * col("_sz"))), 4)
            .as("autocorr"))
        .orderBy("event_type")
    }),

    // Load trend slope per class: least-squares slope of the hourly
    // load series — "is this query class growing?" as one number. The
    // time axis NORMALIZES to hours-since-start (broadcast min ride)
    // before the moment sums: raw epoch-hours (~5e5) make
    // nΣx²−(Σx)² cancel eight orders of magnitude and eat the double
    // mantissa; relative hours keep every term small. Slope from the
    // closed form over rounded hourly loads — same aggregates, same
    // formula, both engines.
    "q145_trend_slope" -> ((s, d) => {
      val hourly = CoreQueries.events(s, d)
        .withColumn("hb", expr("(ts_ns div 1000) div 3600000000"))
        .groupBy("event_type", "hb")
        .agg(round(sum("value"), 4).as("load"))
      val mn = hourly.agg(min("hb").as("_h0"))
      hourly.crossJoin(broadcast(mn))
        .withColumn("x", (col("hb") - col("_h0")).cast("double"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"),
          sum("x").as("_sx"), sum("load").as("_sy"),
          sum(col("x") * col("x")).as("_sxx"),
          sum(col("x") * col("load")).as("_sxy"))
        .select(col("event_type"), col("n_hours"),
          round((col("n_hours") * col("_sxy") - col("_sx") * col("_sy")) /
            (col("n_hours") * col("_sxx") - col("_sx") * col("_sx")), 4)
            .as("slope"),
          round(col("_sy") / col("n_hours"), 4).as("mean_load"))
        .orderBy("event_type")
    }),

    // Weighted (multiset) Jaccard near-dup pairs (Dedup
    // .weightedJaccardPairs): q102/q109's blocks with the
    // frequency-aware metric — Σmin(tf)/Σmax(tf) over token multisets,
    // intersection-only join arithmetic on exact counts.
    "q144_weighted_jaccard" -> ((s, d) =>
      Dedup.weightedJaccardPairs(t(s, d, "documents"), "doc_id", "text",
        Seq(col("lang"), split(col("text"), " ").getItem(0)),
        WjMinSim, maxBlock = Some(100L))),

    // Dup-cluster size census: the q67 closure rolled to "how many
    // clusters of each size" — the audit read before a dedup pass
    // ships (one giant cluster usually means boilerplate, not dups).
    "q143_cluster_sizes" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(t(s, d, "documents"),
        "doc_id", "text", n = 3, threshold = 0.6)
      Dedup.dedupClusters(pairs, "da", "db")
        .groupBy(col("lbl"))
        .agg(count(lit(1)).as("_sz"))
        .groupBy(col("_sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    }),

    // Embedding feature audit: per-dimension n/mean/stddev/min/max —
    // the drift monitor an embedding pipeline publishes (dead or
    // exploding dimensions surface here before recall decays). One
    // posexplode + a dim-keyed aggregate (map-side combined: the
    // exchange carries partitions×dim rows).
    "q142_dim_stats" -> ((s, d) =>
      t(s, d, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("pos").cast("long").as("pos"),
          col("x").cast("double").as("x"))
        .groupBy("pos")
        // + 0.0 normalizes IEEE −0.0 → 0.0: a near-zero mean's SIGN is
        // accumulation-order noise, and the engines disagree on it
        .agg(count(lit(1)).as("n"),
          (round(avg("x"), 4) + lit(0.0)).as("mean"),
          round(stddev_samp(col("x")), 4).as("sd"),
          (round(min("x"), 4) + lit(0.0)).as("mn"),
          (round(max("x"), 4) + lit(0.0)).as("mx"))
        .orderBy("pos")),

    // Bounce analysis (q138's sessions rolled up): per user, sessions
    // vs single-event sessions and the exact-division bounce rate.
    "q140_bounce" -> ((s, d) =>
      Behavior.sessionStats(CoreQueries.events(s, d), "user_id",
          expr("ts_ns div 1000"), col("event_id"), maxGap = 1800000000L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          count(when(col("n_events") === 1, lit(1))).as("n_bounces"))
        .withColumn("bounce_rate",
          round(col("n_bounces").cast("double") / col("n_sessions"), 4))
        .orderBy("user_id")),

    // Segmented funnel (Behavior.funnelBySegment): q113 split by the
    // q125 hash arm — the experiment × conversion readout; the segment
    // rides the fold as an entity-constant dependent key.
    "q141_funnel_segment" -> ((s, d) =>
      Behavior.funnelBySegment(CoreQueries.events(s, d), "user_id",
        when(Pipeline.hashBucket16(col("user_id")) < 32768, "A")
          .otherwise("B"),
        expr("ts_ns div 1000"), col("event_type"), FunnelStages)),

    // Per-session statistics (Behavior.sessionStats): q24's sessions
    // as ROWS — 30-minute inactivity timeout, exact-integer spans;
    // the frame duration percentiles and bounce analysis read from.
    "q138_session_stats" -> ((s, d) =>
      Behavior.sessionStats(CoreQueries.events(s, d), "user_id",
        expr("ts_ns div 1000"), col("event_id"), maxGap = 1800000000L)),

    // First-touch attribution: each purchase's value credits the
    // OPENING event type of its 30-min session — the q138 session
    // islands composed with a per-session first_value; per-session
    // conversion value averages at 4 dp (small per-session sums, then
    // the division collapses accumulation error).
    "q188_attribution" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val ev = CoreQueries.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), expr("ts_ns div 1000").as("us"))
      ev
        .withColumn("_brk",
          when(lag("us", 1).over(w).isNull ||
            col("us") - lag("us", 1).over(w) > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("sid",
          sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("channel", first("event_type")
          .over(Window.partitionBy("user_id", "sid").orderBy("us", "event_id")))
        .filter(col("event_type") === "purchase")
        .groupBy(col("channel"), col("user_id"), col("sid"))
        .agg(count(lit(1)).as("_nc"), sum("value").as("_rev"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_sessions"),
          sum("_nc").as("n_conversions"),
          round(avg(col("_rev") / col("_nc")), 4).as("avg_conv_value"))
        .orderBy("channel")
    }),

    // Exact phrase search over positional postings: word i joins word
    // 0's postings on (doc, pos+i) — containment, each filter
    // token-selective before its shuffle (Search.phraseDocs).
    "q189_phrase_search" -> ((s, d) =>
      Search.phraseDocs(t(s, d, "documents"), "doc_id", "text",
        "slow query")),

    // Proximity search: two terms within 3 positions, either order —
    // the binned pair join (RangeJoin pattern), never per-doc A×B.
    "q190_proximity" -> ((s, d) =>
      Search.proximityDocs(
        Search.positionalPostings(t(s, d, "documents"), "doc_id", "text"),
        "hash", "join", window = 3)),

    // Phrase frequency by language: every start position counts
    // (overlap-inclusive, the positional-index rule) — exact integers.
    "q191_phrase_freq" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Search.phraseOccurrences(
          Search.positionalPostings(docs, "doc_id", "text"), "slow query")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang").agg(sum("n_occ").as("n_occ"))
        .orderBy("lang")
    }),

    // Lexical cosine near-dup pairs: integer dot / sqrt(integer norms)
    // is bit-identical across engines, so the 0.8 threshold sits on
    // the raw double; df cap 400 bounds the per-token fanout.
    "q192_lexical_cosine" -> ((s, d) =>
      Dedup.lexicalCosinePairs(t(s, d, "documents"), "doc_id", "text",
        minSim = 0.8, maxDf = 400L)),

    // Lexical-cosine admission (the q56 head/tail split): the first 20
    // docs probe the rest as the standing corpus — probe vectors
    // restricted to the index's kept vocabulary (Dedup scaladoc).
    "q199_cosine_match" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // the index tf frame is read 3× (vocab, dot join, norms) like
      // q243's, but a checkpoint here measured SLOWER (r16: 1.07→1.18 s
      // — the sub-second recomputes are cheaper than the eager
      // materialization pass at this entry's size); left as-is
      val corpusTf = Dedup.cappedLexicalTf(
        docs.filter(col("doc_id") >= 20), "doc_id", "text", maxDf = 400L)
      Dedup.lexicalCosineAgainst(
        docs.filter(col("doc_id") < 20), "doc_id", "text",
        corpusTf, Dedup.lexicalNorms(corpusTf), minSim = 0.8)
    }),

    // Two-hop reach census (Graph.twoHopReach) on q118's undirected
    // customer–supplier graph: distinct nodes within two hops, top-20
    // — the friend-of-friend expansion next to PageRank's stationary
    // view; exact distinct here (oracle contract), HLL at corpus scale
    // (Graph scaladoc).
    "q209_two_hop" -> ((s, d) => {
      // bulk-order edges only (l_quantity > 45): the full graph is so
      // dense every node reaches everything in two hops — the sparse
      // slice keeps the census data-bearing (12 distinct reach values
      // in the top-20 at sf0.001)
      // LONG node keys through the wedge shuffles (the q118 parity
      // namespacing — custkey·2 / suppkey·2+1, disjoint by
      // construction); the 'c'/'s' strings are decoded only at the
      // 20-row readout, where the rank re-applies the oracle's
      // string-form tie order
      val pairs = t(s, d, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, d, "lineitem").filter(col("l_quantity") > 45)
            .select("l_orderkey", "l_suppkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
      val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      // decode expressed purely via the lambda argument (r16 advice
      // item 1 — no coupling to twoHopReach's internal column name):
      // keys are non-negative, so shiftright(n,1) IS `n div 2` for the
      // even (customer) branch and `(n−1) div 2` for the odd (supplier)
      // branch — one expression, same decoded strings
      Graph.twoHopReach(edges, "a", "b", PrTopK,
        decodeNode = Some(n =>
          concat(when(n % 2 === 0, lit("c")).otherwise(lit("s")),
            shiftright(n, 1).cast("string"))))
    }),

    // Join-key skew audit — the pre-flight that DECIDES q57's salting:
    // per-key count distribution (element percentiles, q164 pairing)
    // plus the integer ceiling salt factor ⌈max/avg⌉ a skew-safe join
    // would shard the hot key by. At 100 TB this costs one map-side-
    // combined key aggregate — the cheapest insurance against a
    // straggler reducer. All cells exact integers.
    "q208_skew_audit" -> ((s, d) => {
      val cnts = CoreQueries.events(s, d).groupBy("user_id")
        .agg(count(lit(1)).as("cnt"))
      cnts.agg(count(lit(1)).as("n_keys"), sum("cnt").as("n_rows"),
          max("cnt").as("max_cnt"),
          percentile_approx(col("cnt"), lit(0.5), lit(1000000))
            .as("p50_cnt"),
          percentile_approx(col("cnt"), lit(0.99), lit(1000000))
            .as("p99_cnt"))
        .select(col("n_keys"), col("n_rows"),
          expr("n_rows div n_keys").as("avg_cnt"), col("max_cnt"),
          col("p50_cnt"), col("p99_cnt"),
          expr("(max_cnt * n_keys + n_rows - 1) div n_rows")
            .as("salt_factor"))
    }),

    // Hour-of-day seasonal anomaly (Behavior.seasonalAnomaly): flag
    // (day, hour) load buckets > 3σ from their own hour's cross-day
    // profile — the variance cross-multiplied out so the z-test is an
    // exact integer comparison (Behavior scaladoc).
    "q207_seasonal_anomaly" -> ((s, d) =>
      Behavior.seasonalAnomaly(CoreQueries.events(s, d),
          expr("ts_ns div 86400000000000"),
          expr("(ts_ns div 3600000000000) % 24"),
          round(col("value") * 100).cast("long"))
        .orderBy("day", "hour")),

    // Multi-touch attribution in integer BASIS POINTS (q188's
    // first-touch counterpart): each user's first purchase distributes
    // exactly 10000 bp across its preceding touches — `10000 div n`
    // each, remainder to the EARLIEST touch — so credit is conserved
    // per conversion BY CONSTRUCTION and every cell is an exact
    // integer (the float 1/n formulation neither conserves nor
    // cross-checks). Per-user windows only; entity-bounded state.
    "q206_multitouch" -> ((s, d) => {
      val ev = CoreQueries.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts_ns div 1000").as("us"))
      val wp = Window.partitionBy("user_id").orderBy("us", "event_id")
      val firstPurchase = ev.filter(col("event_type") === "purchase")
        .withColumn("_r", row_number().over(wp)).filter(col("_r") === 1)
        .select(col("user_id"), col("us").as("_pus"),
          col("event_id").as("_peid"))
      val touches = ev.join(firstPurchase, "user_id")
        .filter(col("us") < col("_pus") ||
          (col("us") === col("_pus") && col("event_id") < col("_peid")))
      val wu = Window.partitionBy("user_id")
      touches
        .withColumn("rn", row_number().over(wp))
        .withColumn("n", count(lit(1)).over(wu))
        .groupBy(col("event_type").as("channel"))
        .agg(count(lit(1)).as("n_touches"),
          sum(expr("10000 div n") +
            when(col("rn") === 1, expr("10000 % n")).otherwise(0L))
            .as("credit_bp"))
        .orderBy("channel")
    }),

    // LM-rarity quality filter (TextAnalysis.lmRarityFilter): the
    // perplexity-filter DECISION with transcendentals designed out —
    // rare bigram ⟺ c1 > 100·c12, flagged ⟺ 10·n_rare ≥ 3·n_bigrams,
    // all exact integer comparisons (where q103 scores, this decides).
    "q202_lm_rarity" -> ((s, d) =>
      TextAnalysis.lmRarityFilter(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // Entity-resolution golden records — the record-linkage capstone
    // (q109 × q84 composed, then SURVIVORSHIP): JW-blocked pairs →
    // star-CC entities → per-entity canonical attributes by explicit
    // merge rules (consensus lang via count-then-tiebreak rank, best =
    // max n_chars, first = min source). Entities exist only where
    // pairs do, matching the closure oracle's node set; every rule is
    // exact-integer or total-ordered, so the golden record is unique.
    "q205_entity_resolution" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.jaroWinklerPairs(docs, "doc_id",
        substring(col("text"), 1, EditPrefix),
        Seq(col("lang"), split(col("text"), " ").getItem(0)),
        JwMinSim, maxBlock = Some(100L))
      val members = Dedup.dedupClustersStar(pairs, "a_id", "b_id")
        .select(col("node"), col("lbl"))
      // attrs is read twice (canonical-lang vote + member rollup), but a
      // checkpoint here measured SLOWER (r16: 2.3→3.1 s): members is
      // already checkpointed by dedupClustersStar, so each re-read costs
      // one cheap doc join while the materialization pays an extra
      // eager pass — left as-is deliberately
      val attrs = members.join(docs.select(col("doc_id").as("node"),
        col("lang"), col("n_chars"), col("source")), "node")
      val langRank = Window.partitionBy("lbl")
        .orderBy(col("_lc").desc, col("lang"))
      val canonLang = attrs.groupBy("lbl", "lang")
        .agg(count(lit(1)).as("_lc"))
        .withColumn("_r", row_number().over(langRank))
        .filter(col("_r") === 1)
        .select(col("lbl"), col("lang").as("canon_lang"))
      attrs.groupBy("lbl")
        .agg(count(lit(1)).as("n_members"),
          max("n_chars").as("best_len"),
          min("source").as("first_source"))
        .join(canonLang, "lbl")
        .select(col("lbl").as("entity_id"), col("n_members"),
          col("canon_lang"), col("best_len"), col("first_source"))
        .orderBy("entity_id")
    }),

    // CUSUM changepoint (Behavior.cusumChangepoint): cumulative
    // deviation of the daily value series from the series mean, the
    // level-shift day flagged at argmax |C| — exact cent·N integers
    // end to end, so no output cell can flip on an ulp (Behavior
    // scaladoc).
    "q204_cusum" -> ((s, d) =>
      Behavior.cusumChangepoint(CoreQueries.events(s, d),
          expr("ts_ns div 86400000000000"),
          round(col("value") * 100).cast("long"))
        .orderBy("day")),

    // Hard-negative mining (Similarity.hardNegatives): per labeled
    // probe, the top-3 most-similar vectors with a DIFFERENT label —
    // the contrastive-training negative sampler; q39's exact ranking
    // with the label-disagreement predicate before the rank.
    "q203_hard_negatives" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", "label", k = 3)
        .select("probe_id", "neg_id", "neg_label", "sim", "rn")
        .orderBy("probe_id", "rn")
    }),

    // Incremental rollup maintenance (Rollup + Layout.Rollup):
    // the standing 90% of events reduces to mergeable partials and is
    // STORED bucketed by day; the trailing 10% arrives as a delta whose
    // partials APPEND blind (the standing table is never read — count/
    // sum/min/max are commutative monoids, duplicate partial rows per
    // key are the design); the result is the merge-on-read
    // presentation, whose aggregate runs exchange-free off the
    // bucketed scan. The oracle aggregates the union directly —
    // merge-vs-recompute equality IS the check.
    "q201_rollup_merge" -> ((s, d) => {
      val ev = CoreQueries.events(s, d)
      val day = expr("ts_ns div 86400000000000")
      val cents = round(col("value") * 100).cast("long")
      val tbl = "graft_bench_rollup_q201"
      Warehouse.save(Layout.Rollup, tbl, Rollup.dailyPartials(
        ev.filter(col("event_id") % 10 < 9), day,
        col("event_type"), cents))
      Warehouse.append(Layout.Rollup, tbl, Rollup.dailyPartials(
        ev.filter(col("event_id") % 10 === 9), day,
        col("event_type"), cents))
      Rollup.readRollup(s, tbl)
        .select(col("day"), col("event_type"), col("cnt"),
          col("sum_v").as("sum_cents"), col("mean_v").as("mean_cents"),
          (col("min_v") / 100.0).as("min_v"),
          (col("max_v") / 100.0).as("max_v"))
        .orderBy("day", "event_type")
    }),

    // Hierarchical share-of-parent (the percent-of-total drilldown
    // q13's rollup doesn't carry): leaf revenue with its share of the
    // parent flag and of the grand total — sums in exact integer
    // cents, each share ONE correctly-rounded division of exact longs
    // (huge denominators cannot terminate at the rounding site, unlike
    // the small-n means q119/q201 integer-ized); parent and total
    // frames are group-cardinality-sized broadcasts.
    "q213_share_of_parent" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(col("l_returnflag").as("rf"),
        col("l_linestatus").as("ls"),
        round(col("l_extendedprice") * 100).cast("long").as("c"))
      val leaf = li.groupBy("rf", "ls")
        .agg(sum("c").as("rev_cents"), count(lit(1)).as("n"))
      val parent = leaf.groupBy("rf").agg(sum("rev_cents").as("_p"))
      val total = leaf.agg(sum("rev_cents").as("_t"))
      leaf.join(broadcast(parent), "rf").crossJoin(broadcast(total))
        .select(col("rf"), col("ls"), col("n"), col("rev_cents"),
          round(col("rev_cents") / col("_p"), 6).as("share_of_flag"),
          round(col("rev_cents") / col("_t"), 6).as("share_of_total"))
        .orderBy("rf", "ls")
    }),

    // IVF-PQ composite ANN (the faiss IVFx,PQy layout — q53's cell
    // pruning × q83's code compression, PQ fit on RESIDUALS): the
    // persist-and-probe contract against the exact top-3. Config
    // measured r11 (per-probe hits): nlist=16, nprobe=12, subspaces=16,
    // candidates=150 recalls 3/3 for every probe at BOTH oracle SFs —
    // one-hit margin over the ≥2 floor everywhere. nprobe=8 leaves a
    // candidate-insensitive sf0.01 CELL miss; subspaces=8 at cand=150
    // leaves sf0.1 ADC misses (residual codebook too coarse) — the two
    // failure modes are distinguishable in the surface, which is why
    // both knobs ship explicitly.
    "q214_ivfpq_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      val exact = Similarity.knnBatch(emb, probes, "vec_id", "embedding", k = 3)
        .select(col("probe_id"), col("rn"), col("nn_id"), col("sim"))
        // the exact top-3 frame is read twice (recall-hit join + the
        // emitted rows); one 15-row materialization instead of two
        // full-corpus cosine scans (r16)
        .transform(Materialize(_))
      val (codes, centroids, codebook) = Similarity.ivfPqIndex(
        emb, "vec_id", "embedding", nlist = 16, subspaces = 16)
      Warehouse.save(Layout.IvfPq, "graft_bench_ivfpq_q214", codes, centroids,
        codebook)
      storedIndexOwner.put("graft_bench_ivfpq_q214", d)
      val ann = Similarity.ivfPqTopKFrom(s.table("graft_bench_ivfpq_q214"),
          s.table(Warehouse.sideTable("graft_bench_ivfpq_q214", Side.Centroids)),
          s.table(Warehouse.sideTable("graft_bench_ivfpq_q214", Side.Codebook)),
          emb, probes,
          "vec_id", "embedding", k = 3, nprobe = 12, candidates = 150,
          subspaces = 16)
        .select(col("probe_id"), col("nn_id"))
      val hits = exact.join(ann, Seq("probe_id", "nn_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("hits"))
      exact.join(hits, Seq("probe_id"), "left")
        .select(col("probe_id"), col("rn"), col("nn_id"), col("sim"),
          (coalesce(col("hits"), lit(0L)) >= 2).as("ok"))
        .orderBy("probe_id", "rn")
    }),

    // Leakage-safe k-fold split (Pipeline.leakageSafeSplit): the q67
    // near-dup closure composed with q110's content-keyed folding —
    // folds are assigned to CLUSTERS, so near-dup pairs never straddle
    // a train/eval boundary. The output is the per-fold census plus
    // the leak audit under BOTH policies: `naive_leaks` (per-doc
    // hashing, attributed to da's fold) is data-bearing — ~(k−1)/k of
    // pairs straddle — and `safe_leaks` is the zero-by-construction
    // contract, checked as values like q41's literal floor.
    "q215_leakage_split" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // materialized once: consumed by the fold assignment (via the CC
      // closure) AND re-read whole by the leak audit below — the pair
      // pipeline executed twice per run without this (r16)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.6).select("da", "db").transform(Materialize(_))
      // assign is read by the census and both audit endpoint projections
      // (3×); one doc-sized materialization
      val assign = Pipeline.leakageSafeSplit(docs, "doc_id", pairs,
        "da", "db", KFolds).transform(Materialize(_))
      val census = assign.groupBy("fold").agg(count(lit(1)).as("n_docs"),
        countDistinct("cluster").as("n_clusters"))
      val fa = assign.select(col("doc_id").as("da"), col("fold").as("_fa"),
        Pipeline.kfold(col("doc_id"), KFolds).as("_na"))
      val fb = assign.select(col("doc_id").as("db"), col("fold").as("_fb"),
        Pipeline.kfold(col("doc_id"), KFolds).as("_nb"))
      val audited = pairs.join(fa, "da").join(fb, "db")
      val naive = audited.filter(col("_na") =!= col("_nb"))
        .groupBy(col("_na").as("fold")).agg(count(lit(1)).as("_cn"))
      val safe = audited.filter(col("_fa") =!= col("_fb"))
        .groupBy(col("_fa").as("fold")).agg(count(lit(1)).as("_cs"))
      census.join(naive, Seq("fold"), "left").join(safe, Seq("fold"), "left")
        .select(col("fold"), col("n_docs"), col("n_clusters"),
          coalesce(col("_cn"), lit(0L)).as("naive_leaks"),
          coalesce(col("_cs"), lit(0L)).as("safe_leaks"))
        .orderBy("fold")
    }),

    // Johnson–Lindenstrauss random projection (Similarity.
    // randomProjection): 64-float embeddings → 16 doubles through a
    // seeded ±1/√16 Rademacher matrix, then the exact top-3 IN THE
    // PROJECTED SPACE with the original-space cosine attached — the
    // distortion the JL lemma bounds, emitted as checkable VALUES (no
    // recall floor needed: the projection is bit-deterministic and the
    // oracle rebuilds it from literals generated off the same matrix).
    // At 100 TB this is the bytes-per-vector lever upstream of every
    // ANN family: scans, shuffles, and indexes carry dim/outDim fewer
    // bytes, and the dyadic entries make it engine-reproducible.
    "q216_jl_projection" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val proj = Similarity.randomProjection(emb, "vec_id", "embedding",
        outDim = JlDim, dim = 64)
      val probes = proj.filter(col("id") < 5)
      Similarity.knnBatch(proj, probes, "id", "proj", k = 3)
        .select(col("probe_id"), col("rn"), col("nn_id"),
          col("sim").as("psim"))
        .join(emb.select(col("vec_id").as("nn_id"),
          col("embedding").as("_e_nn")), "nn_id")
        .join(broadcast(emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"),
            col("embedding").as("_e_p"))), "probe_id")
        .select(col("probe_id"), col("rn"), col("nn_id"), col("psim"),
          round(Similarity.cosine(col("_e_p"), col("_e_nn")), 4).as("osim"))
        .orderBy("probe_id", "rn")
    }),

    // Temperature-scaled mixture plan (the multilingual-pretraining
    // sampling law, α = 0.5): per-lang token masses → sampling weights
    // w_l ∝ n_l^α (upweighting the tail relative to proportional
    // sampling) → the epoch/repeat factor each lang needs to fill a
    // fixed token budget. One aggregate + a 1-row broadcast of the
    // normalizer; sqrt is IEEE-correctly-rounded in both engines so
    // the 6-dp weights can't drift. The epochs column is the number a
    // pretraining dataloader actually consumes (>1 ⇒ the lang repeats).
    "q217_mixture_plan" -> ((s, d) => {
      val n = t(s, d, "documents")
        .select(col("lang"),
          TextAnalysis.wordCount(col("text")).cast("long").as("_tok"))
        .groupBy("lang").agg(sum("_tok").as("n_tokens"))
      val z = n.agg(sum(sqrt(col("n_tokens"))).as("_z"))
      n.crossJoin(broadcast(z))
        .select(col("lang"), col("n_tokens"),
          round(sqrt(col("n_tokens")) / col("_z"), 6).as("weight"),
          round(lit(MixBudgetTokens) * sqrt(col("n_tokens")) / col("_z") /
            col("n_tokens"), 4).as("epochs"))
        .orderBy("lang")
    }),

    // Cross-source contamination matrix: which SOURCES duplicate each
    // other — the provenance-level question upstream of q56's
    // train/test screen. Distinct (source, shingle) pairs (one shuffle)
    // self-join on the shingle: a shingle present in s sources fans out
    // C(s,2) ≤ C(20,2) pairs — bounded by the SOURCE count, never by
    // corpus size — and the matrix itself is C(sources,2) rows. Overlap
    // is shared/min(|A|,|B|) on exact integer counts (containment — a
    // small source swallowed by a big one scores 1.0, which Jaccard
    // would hide).
    "q218_source_overlap" -> ((s, d) => {
      // read by the per-source census and both containment-join legs
      val sh = Dedup.shingles(t(s, d, "documents"), "source", "text", n = 3)
        .select(col("source"), col("shingle")).distinct().transform(Materialize(_))
      val cnt = sh.groupBy("source").agg(count(lit(1)).as("n"))
      val pairs = sh.select(col("source").as("src_a"), col("shingle"))
        .join(sh.select(col("source").as("src_b"), col("shingle")), "shingle")
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared"))
      pairs
        .join(broadcast(cnt.select(col("source").as("src_a"), col("n").as("_na"))), "src_a")
        .join(broadcast(cnt.select(col("source").as("src_b"), col("n").as("_nb"))), "src_b")
        .select(col("src_a"), col("src_b"), col("shared"),
          round(col("shared") / least(col("_na"), col("_nb")), 4)
            .as("containment"))
        .orderBy("src_a", "src_b")
    }),

    // LOCF gap-fill (q124's densify + forward fill — the feature-store
    // primitive): per-(type, hour) exact cent loads on the FULL
    // observed-hour × type spine, holes carried forward from the last
    // observation (IGNORE NULLS frame — identical window law in both
    // engines), leading holes zero-filled. The spine is two distinct
    // frames cross-joined (calendar × type-vocabulary — broadcast-sized
    // at any corpus size); the fill is ONE window over the spine, never
    // a self-join per gap.
    "q219_locf_fill" -> ((s, d) => {
      val ev = CoreQueries.events(s, d)
        .select(expr("ts_ns div 1000 div 3600000000").as("hour"),
          col("event_type"),
          expr("cast(round(value * 100) as long)").as("_c"))
      val actual = ev.groupBy("hour", "event_type")
        .agg(sum("_c").as("cents"))
      val spine = actual.select("hour").distinct()
        .crossJoin(actual.select("event_type").distinct())
      val w = Window.partitionBy("event_type").orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(actual, Seq("hour", "event_type"), "left")
        .select(col("hour"), col("event_type"), col("cents"),
          coalesce(last(col("cents"), ignoreNulls = true).over(w), lit(0L))
            .as("filled_cents"),
          col("cents").isNull.as("was_gap"))
        .orderBy("event_type", "hour")
    }),

    // Incremental closure maintenance (Dedup.dedupClustersAugment):
    // the standing cluster table absorbs a DELTA of new pairs by
    // re-solving only the touched components (stored structure rides
    // as star edges) — and the result must be EXACTLY the fixpoint a
    // full re-cluster over all pairs produces, which is what the q67
    // closure oracle checks. The day1/delta split is a deterministic
    // pair-hash so both engines see the same partition of history.
    "q220_cc_augment" -> ((s, d) => {
      // pair frame materialized once: the star half checkpoints its own
      // (filtered) input, but the augment half references the delta THREE
      // times (both endpoint projections + the subgraph union) — the
      // shingle pipeline executed four times per run without this (r16)
      val pairs = Dedup.ngramJaccardPairs(t(s, d, "documents"),
        "doc_id", "text", n = 3, threshold = 0.6).select("da", "db")
        .transform(Materialize(_))
      val h = pmod(xxhash64(col("da"), col("db")), lit(2L))
      val stored = Dedup.dedupClustersStar(pairs.filter(h === 0L), "da", "db")
      Dedup.dedupClustersAugment(stored, pairs.filter(h === 1L), "da", "db")
        .select(col("node").as("doc_id"), col("lbl").as("cluster"))
        .orderBy("doc_id")
    }),

    // Per-digest drill-down detail (Qan.digestDetail, the QAN review
    // UI's missing report shape — r12 verdict item 8): profile row,
    // hourly sparkline, worst example calls, apdex, and the user/schema
    // drill-down links for ONE digest, as a single tall
    // (section, ord, label, value) frame the oracle UNIONs together.
    // ApdexT (50.0) splits the value distribution into three non-empty
    // classes at both oracle SFs.
    "q221_digest_detail" -> ((s, d) =>
      Qan.digestDetail(qanWide(s, d), "view", apdexT = ApdexT)),

    // Gopher repetition stats (r12): the one-pass codegen kernel, with
    // the flag thresholds as integer cross-multiplications tuned to
    // this corpus (top-bigram share > 1/10 OR any duplicated trigram
    // — both branches data-bearing at both oracle SFs: 11/27 docs at
    // sf0.01, 106/287 at sf0.1)
    "q222_repetition" -> ((s, d) =>
      TextAnalysis.repetitionStats(t(s, d, "documents"), "doc_id", "text")
        .withColumn("flagged",
          lit(10) * col("top_bigram_c") > col("n_bigrams") ||
            col("dup_tri_inst") > 0)
        .orderBy("doc_id")),

    // DSIR importance weights (r12): target = the en subset, source =
    // the whole corpus; the oracle recomputes the smoothed unigram
    // ratio sums with the same single post-aggregate rounding site
    "q223_dsir" -> ((s, d) =>
      Pipeline.dsirWeights(t(s, d, "documents"), "doc_id", "text",
        col("lang") === "en")
        .orderBy("doc_id")),

    // Nearest-centroid classification (r12): per-label DISCRETE-median
    // centroids from the even-id training half (selection, not float
    // arithmetic — cross-engine exact), odd-id half assigned by argmax
    // cosine in one shuffle-free unrolled projection; confusion matrix
    // out. The embeddings' labels are random vs the vectors, so the
    // diagonal sits at chance — the op contract is the assignment rule,
    // not model quality.
    "q224_centroid_classify" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = Similarity.medianCentroids(
        emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", "label")
      Similarity.classifyNearestCentroid(
        emb.where(col("vec_id") % 2 === 1), cents,
        "vec_id", "embedding", "label")
        .groupBy("label", "assigned")
        .agg(count(lit(1)).as("n"),
          (round(avg(col("cos")), 4) + 0.0).as("avg_cos"))
        .orderBy("label", "assigned")
    }),

    // Trigram substring search (r12, the pg_trgm shape): candidates
    // from the char-trigram postings (every pattern gram must hit),
    // exact contains-verify on just those rows — output must equal the
    // oracle's full `%pattern%` scan (36/27/314 hits at the three SFs,
    // data-bearing everywhere)
    "q225_substring_search" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pp = Search.trigramPostings(docs, "doc_id", "text")
      Search.substringSearch(pp, docs, "doc_id", "text", "scan slow")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .orderBy("doc_id")
    }),

    // k-core decomposition (r12, Graph.kCore): iterative peel to the
    // 4-core of the q209-sparsified trade graph (the full graph's min
    // degree is ~3 — nothing would peel); converges in 2 rounds at
    // every SF, survivors 72/885/9042 of 153/1544/15452 nodes. Oracle
    // = 6 unrolled MATERIALIZED peel levels (fixpoint => idempotent).
    "q226_kcore" -> ((s, d) => {
      // LONG node keys through the peel rounds (the q118/q209 parity
      // namespacing); 'c'/'s' strings decode at the survivor readout,
      // where the output sort re-applies the oracle's string order
      val pairs = t(s, d, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, d, "lineitem").filter(col("l_quantity") > 45)
            .select("l_orderkey", "l_suppkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      Graph.kCore(edges, "a", "b", k = 4)
        .select(
          when(col("node") % 2 === 0, concat(lit("c"), expr("node div 2")))
            .otherwise(concat(lit("s"), expr("(node - 1) div 2")))
            .as("node"),
          col("core_degree"))
        .orderBy("node")
    }),

    // Cross-format round trip (r12, sources/FileFormats): the corpus
    // leaves parquet through the JSONL and CSV sinks, comes back
    // through the schema-carrying readers, and every per-lang
    // fingerprint (count / id-sum / char-sum / distinct texts) must
    // equal what DuckDB reads from the ORIGINAL parquet — any
    // serialization loss in either format shows up as a hash mismatch.
    "q227_format_roundtrip" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val base = "spark-warehouse/graft_bench_roundtrip_q227"
      graft.sources.FileFormats.writeJsonl(docs, s"$base/jsonl")
      graft.sources.FileFormats.writeCsv(docs, s"$base/csv")
      def fingerprint(df: org.apache.spark.sql.DataFrame, fmt: String) =
        df.groupBy("lang").agg(
            count(lit(1)).as("n"),
            sum("doc_id").as("id_sum"),
            sum(length(col("text"))).as("char_sum"),
            countDistinct("text").as("n_texts"))
          .withColumn("fmt", lit(fmt))
      fingerprint(graft.sources.FileFormats.readJsonl(s, s"$base/jsonl",
          docs.schema), "jsonl")
        .unionByName(fingerprint(graft.sources.FileFormats.readCsv(s,
          s"$base/csv", docs.schema), "csv"))
        .select("fmt", "lang", "n", "id_sum", "char_sum", "n_texts")
        .orderBy("fmt", "lang")
    }),

    // Rendezvous shard routing (r12, Pipeline.rendezvousShard): HRW
    // assignment at 8 and 9 shards in one shuffle-free projection; the
    // consistent-hashing contract is data-bearing — n_moved ≈ n/9
    // (60/500 at sf0.01) and n_stray (moved anywhere but the NEW
    // shard) is the exact-zero column
    "q228_shard_router" -> ((s, d) =>
      t(s, d, "documents").select(
          Pipeline.rendezvousShard(col("doc_id"), 8).cast("long").as("shard8"),
          Pipeline.rendezvousShard(col("doc_id"), 9).cast("long").as("shard9"))
        .groupBy(col("shard8").as("shard"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("shard9") === col("shard8"), 1L).otherwise(0L))
            .as("n_stay"),
          sum(when(col("shard9") =!= col("shard8"), 1L).otherwise(0L))
            .as("n_moved"),
          sum(when(col("shard9") =!= col("shard8") && col("shard9") =!= 8,
            1L).otherwise(0L)).as("n_stray"))
        .orderBy("shard")),

    // Unicode NFC normalization (r12, the codegen'd UnicodeNormExpr):
    // deterministic decomposed suffix injected on BOTH sides, the
    // normalized length must shrink by exactly the combining marks
    // composed (3/doc) — the canonicalize-before-hashing step
    "q229_unicode_norm" -> ((s, d) =>
      t(s, d, "documents").select(col("lang"),
          concat(substring(col("text"), 1, 24),
            lit("e\u0301 te\u0301le\u0301")).as("dirty"))
        .select(col("lang"), length(col("dirty")).as("raw_len"),
          length(TextAnalysis.normalizeUnicode(col("dirty"))).as("nfc_len"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("raw_len").as("raw_chars"),
          sum("nfc_len").as("nfc_chars"),
          sum(when(col("raw_len") === col("nfc_len"), 0L).otherwise(1L))
            .as("n_changed"))
        .orderBy("lang")),

    // Shard-prep capstone (r12): the round's new ops composed the way
    // a corpus lands — normalize (codegen NFC over an injected
    // decomposed tail), quality-flag (the q222 one-pass repetition
    // kernel), route (HRW shards), per-shard scorecard out. Every
    // stage is shuffle-free except the final 8-group aggregate.
    "q230_prepare_shards" -> ((s, d) => {
      val norm = t(s, d, "documents").select(col("doc_id"), col("lang"),
        TextAnalysis.normalizeUnicode(
          concat(col("text"), lit(" e\u0301 te\u0301le\u0301"))).as("norm"))
      val rep = TextAnalysis.repetitionStats(norm, "doc_id", "norm")
        .select(col("doc_id"),
          (lit(10) * col("top_bigram_c") > col("n_bigrams") ||
            col("dup_tri_inst") > 0).as("flagged"))
      norm.join(rep, "doc_id")
        .select(col("lang"), col("flagged"), length(col("norm")).as("_nc"),
          Pipeline.rendezvousShard(col("doc_id"), 8).cast("long").as("shard"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
          countDistinct("lang").as("n_langs"),
          sum("_nc").as("sum_chars"))
        .orderBy("shard")
    }),

    // k-distance diagnostic (r12): the DBSCAN-eps / density profile —
    // a PROBE SAMPLE's similarity to its 3rd nearest neighbor over the
    // full corpus, bucketed (0.05 grain). Both engines bucket the SAME
    // rounded double with the same IEEE ops, so the floor boundary
    // cannot diverge. The 20% deterministic sample IS the operator's
    // scale posture (a density profile needs probe statistics, not
    // every vector — the full self-probe read 8.5 s on the bench, the
    // sample 5× less, same histogram shape).
    "q233_kdist" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.knnBatch(emb, emb.where(col("vec_id") % 5 === 0),
          "vec_id", "embedding", k = 3)
        .where(col("rn") === 3)
        .groupBy(floor(col("sim") * 20).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),

    // ExactSubstr duplicate spans (r13, Dedup.exactSubstrSpans — the
    // Lee et al. 2022 family, suffix-array-free): k-gram anchors →
    // gram-partition min≠max dup flag → per-doc islands → maximal
    // spans with covered-word md5. The oracle reproduces the declared
    // anchor-run semantics verbatim (same grams, same islands).
    "q234_exact_substr" -> ((s, d) =>
      Dedup.exactSubstrSpans(t(s, d, "documents"), "doc_id", "text",
          ExactSubstrK)
        .orderBy("doc_id", "span_start")),

    // The CUT applied (Dedup.exactSubstrCut): duplicated spans removed
    // word-positionally, overlapping intervals unioned, untouched docs
    // byte-exact — kept_text is the cross-engine payload check.
    "q235_exact_substr_cut" -> ((s, d) =>
      Dedup.exactSubstrCut(t(s, d, "documents"), "doc_id", "text",
          ExactSubstrK)
        .orderBy("doc_id")),

    // Semantic decontamination (r13, Similarity.semanticDecontaminate):
    // the embedding twin of q56/q92's text decontamination — corpus
    // rows within τ cosine of ANY holdout row are flagged before
    // training. Holdout broadcasts, corpus scans map-only; τ = 0.35
    // probed data-bearing at all three SFs (44/48/109 flagged).
    "q237_semantic_decon" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.semanticDecontaminate(
          emb.filter(col("vec_id") >= 50 && col("vec_id") < 1050),
          emb.filter(col("vec_id") < 50),
          "vec_id", "embedding", tau = 0.35)
        .orderBy("vec_id")
    }),

    // DBSCAN density clustering (r13, Dedup.dbscanLabels): the ε that
    // q233's k-distance diagnostic picks, applied. EXACT brute-force
    // ε-pairs are the oracle shape (the q89/maxsim posture — the scale
    // path feeds the same operator LSH-blocked pairs); bounded probe
    // population (vec_id < 1000) keeps the oracle's quadratic pair CTE
    // tractable, the q89 rule.
    "q236_dbscan" -> ((s, d) => {
      val emb = t(s, d, "embeddings").filter(col("vec_id") < 1000)
      val pairs = emb.select(col("vec_id").as("da"), col("embedding").as("_ea"))
        .join(emb.select(col("vec_id").as("db"), col("embedding").as("_eb")),
          col("da") < col("db"))
        .filter(Similarity.cosine(col("_ea"), col("_eb")) >= DbscanEps)
        .select("da", "db")
      Dedup.dbscanLabels(emb, "vec_id", pairs, "da", "db", DbscanMinPts)
        .orderBy("vec_id")
    }),

    // Distributed k-medians clustering (r13, Similarity.kMedians):
    // Lloyd-style alternation with the q224 selection update — float
    // MEANS are reduce-order-dependent across engines (the q176
    // lesson), per-dimension low MEDIANS are exact element selections,
    // so both engines' assignment cosines are bit-identical and the
    // whole 2-round trajectory replays in the oracle CTE for CTE.
    "q238_kmedians" -> ((s, d) =>
      Similarity.kMedians(t(s, d, "embeddings"), "vec_id", "embedding",
          KMediansK, KMediansIters)
        .orderBy("vec_id")),

    // Hybrid retrieval fused by reciprocal rank (r13, Search.rrfFuse):
    // the sparse (q111 BM25 over documents) and dense (q39 exact kNN
    // over embeddings, probe = vec 0, doc_id = vec_id) top-20 pools
    // fuse on RANK alone — integer micro-credits `1000000 div (60+r)`
    // (the q206 basis-points rule), so the fused score is an exact
    // BIGINT with no double drift.
    "q239_hybrid_rrf" -> ((s, d) => {
      val sparse = Search.bm25TopK(t(s, d, "documents"), "doc_id", "text",
          SearchTerms, RrfPoolK, Bm25K1, Bm25B)
        .select(col("doc_id"), col("rn").as("rank"))
      val emb = t(s, d, "embeddings")
      val dense = Similarity.knnBatch(emb, emb.where(col("vec_id") === 0),
          "vec_id", "embedding", k = RrfPoolK)
        .select(col("nn_id").as("doc_id"), col("rn").as("rank"))
      Search.rrfFuse(Seq(sparse, dense), RrfK, RrfTopK)
    }),

    // Matryoshka two-stage retrieval (r13, Similarity.matryoshkaTopK):
    // stage 1 ranks on the first-16-dim prefix cosine (4× cheaper
    // scan), stage 2 re-ranks the top-20 candidates full-dim. Both
    // stages rank on the rounded sim + id tiebreak, so the oracle
    // replays the ENTIRE pipeline — candidate set included — value for
    // value (a stage-1 recall miss would hash-mismatch, not hide).
    "q240_matryoshka" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.matryoshkaTopK(emb, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", MatryoshkaPrefix, MatryoshkaM, k = 3)
        .orderBy("probe_id", "rn")
    }),

    // Learned Naive Bayes classifier (r13,
    // TextAnalysis.naiveBayesClassify): the fastText-style trained
    // filter next to q36's fixed-marker heuristic — multinomial NB
    // over whitespace tokens, add-one smoothing, trained on the even
    // docs and applied to the odd ones, true lang carried for
    // confusion accounting. Score is a ln-sum rounded once after the
    // aggregate (the q103 precedent).
    "q241_nb_classify" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.naiveBayesClassify(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", "lang")
        .orderBy("doc_id")
    }),

    // Decontamination sweep capstone (r13): ONE per-document report
    // across the three decon axes the board ships separately — exact
    // 5-gram overlap (q56), lexical cosine vs the holdout (q199's
    // operator, index = corpus, probes = holdout), embedding cosine
    // (q237) — holdout = ids < 20 on every axis, flags full-outer
    // merged, n_methods the exact integer vote. All three axes
    // data-bearing at all three SFs (ngram 6/3/10, lexical
    // 211/147/249, semantic 16/24/90). The report a pipeline reviews
    // before committing a cut: WHICH docs, by WHICH evidence.
    "q243_decon_sweep" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") >= 20)
      val holdout = docs.filter(col("doc_id") < 20)
      val ngram = Pipeline.contaminatedDocs(corpus, holdout,
          "doc_id", "text", n = 5)
        .select(col("doc_id"), lit(true).as("ngram"))
      // read by the vocab restriction, the dot join, and the norms (3×)
      val ctf = Dedup.cappedLexicalTf(corpus, "doc_id", "text",
        maxDf = 400L).transform(Materialize(_))
      val lex = Dedup.lexicalCosineAgainst(holdout, "doc_id", "text",
          ctf, Dedup.lexicalNorms(ctf), minSim = 0.8)
        .select(col("corpus_id").as("doc_id")).distinct()
        .select(col("doc_id"), lit(true).as("lexical"))
      val emb = t(s, d, "embeddings")
      val sem = Similarity.semanticDecontaminate(
          emb.filter(col("vec_id") >= 20), emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", tau = 0.35)
        .select(col("vec_id").as("doc_id"), lit(true).as("semantic"))
      ngram.join(lex, Seq("doc_id"), "full")
        .join(sem, Seq("doc_id"), "full")
        .select(col("doc_id"),
          coalesce(col("ngram"), lit(false)).as("ngram"),
          coalesce(col("lexical"), lit(false)).as("lexical"),
          coalesce(col("semantic"), lit(false)).as("semantic"))
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select(col("doc_id"), col("lang"), col("ngram"), col("lexical"),
          col("semantic"),
          (col("ngram").cast("int") + col("lexical").cast("int") +
            col("semantic").cast("int")).cast("long").as("n_methods"))
        .orderBy("doc_id")
    }),

    // Label-propagation communities (r13, Graph.labelPropagation):
    // frequency voting over the q67 near-dup graph — the community
    // detector next to the closure operator (CC always merges to one
    // min label; LPA can hold a dense community against a bridge
    // edge). Deterministic vote = count desc, label asc; 3 fixed
    // synchronous rounds, oracle-unrolled CTE for CTE.
    "q244_lpa_communities" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(t(s, d, "documents"),
        "doc_id", "text", n = 3, threshold = 0.6)
      Graph.labelPropagation(pairs, "da", "db", LpaIters)
        .select(col("node").as("doc_id"), col("lbl").as("community"))
        .orderBy("doc_id")
    }),

    // Quality-curriculum mixture plan (r13 capstone): q82's shared-
    // constant quality score ranks the corpus (globalRank total order,
    // doc_id tiebreak), exact ntile arithmetic cuts QUARTILES (the
    // q149/q193 rule — no unpartitioned window), and q217's sqrt-
    // temperature law weights each quartile's token mass — the plan a
    // curriculum dataloader consumes (low-quality quartiles get
    // down-weighted epochs, not dropped).
    "q247_curriculum" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val scored = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("score"),
        TextAnalysis.wordCount(col("text")).cast("long").as("_tok"))
      val ranked = Pipeline.globalRank(scored, "doc_id",
        Seq(col("score"), col("doc_id")))
      val n = scored.agg(count(lit(1)).as("_n"))
      val agg = scored.join(ranked, "doc_id").crossJoin(broadcast(n))
        .select(col("_tok"),
          expr("CAST((rn - 1) * 4 DIV _n AS BIGINT)").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("_tok").as("n_tokens"))
      val z = agg.agg(sum(sqrt(col("n_tokens"))).as("_z"))
      agg.crossJoin(broadcast(z))
        .select(col("bucket"), col("n_docs"), col("n_tokens"),
          round(sqrt(col("n_tokens")) / col("_z"), 6).as("weight"),
          round(lit(MixBudgetTokens) * sqrt(col("n_tokens")) / col("_z") /
            col("n_tokens"), 4).as("epochs"))
        .orderBy("bucket")
    }),

    // Matryoshka over the STORED prefix-column layout (r13,
    // Similarity.withPrefix + matryoshkaTopKStored):
    // stage 1 references ONLY (vec_id, pre) — Parquet column pruning
    // keeps the full vectors on disk, the ¼-bytes lever SCALE.md §20
    // names — and stage 2 re-reads candidates only. Runs against
    // q240's oracle VERBATIM (the stored layout is not an
    // approximation — the q92 posture).
    "q246_matryoshka_stored" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      ensureStoredIndex("graft_bench_mrl_q246", d) {
        Warehouse.save(Layout.Plain, "graft_bench_mrl_q246",
          Similarity.withPrefix(emb, "vec_id", "embedding", MatryoshkaPrefix))
      }
      Similarity.matryoshkaTopKStored(s.table("graft_bench_mrl_q246"),
          emb.where(col("vec_id") < 5), "vec_id", "embedding", "pre",
          MatryoshkaPrefix, MatryoshkaM, k = 3)
        .orderBy("probe_id", "rn")
    }),

    // Clustering model AT REST (r13, Layout.Plain +
    // Similarity.kMediansCentroids): fit k-medians ONCE on the even
    // half, store the k centroid rows, route the odd half against the
    // stored table with the shuffle-free unrolled assignment — the
    // fit-once / assign-forever posture (ivfAssign's twin for
    // clustering). Oracle replays the even-half trajectory and the
    // odd-half assignment.
    "q245_kmedians_assign" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      ensureStoredIndex("graft_bench_kmed_q245", d) {
        Warehouse.save(Layout.Plain, "graft_bench_kmed_q245",
          Similarity.kMediansCentroids(
            emb.filter(col("vec_id") % 2 === 0),
            "vec_id", "embedding", KMediansK, KMediansIters))
      }
      Similarity.classifyNearestCentroid(
          emb.filter(col("vec_id") % 2 === 1),
          s.table("graft_bench_kmed_q245"),
          "vec_id", "embedding", "vec_id")
        .select(col("vec_id"), col("assigned").cast("long").as("cluster"),
          (round(col("cos"), 4) + lit(0.0)).as("cos"))
        .orderBy("vec_id")
    }),

    // The model AT REST, grown incrementally (r13,
    // Layout.NaiveBayes — the twelfth at-rest family, the first
    // trained MODEL): fit on one half of the even docs, SAVE, fit the
    // other half, blind APPEND, then score the odd docs from the
    // stored tables with merge-on-read (the q201 additive-partials
    // rule). Runs against q241's oracle VERBATIM — the q92 equality
    // posture: the incremental stored path is not an approximation.
    "q242_nb_model" -> ((s, d) => {
      val docs = t(s, d, "documents")
      ensureStoredIndex("graft_bench_nbmodel_q242", d) {
        val (c1, l1) = TextAnalysis.naiveBayesFit(
          docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", "lang")
        Warehouse.save(Layout.NaiveBayes, "graft_bench_nbmodel_q242", c1, l1)
        val (c2, l2) = TextAnalysis.naiveBayesFit(
          docs.filter(col("doc_id") % 4 === 2), "doc_id", "text", "lang")
        Warehouse.append(Layout.NaiveBayes, "graft_bench_nbmodel_q242", c2, l2)
      }
      TextAnalysis.naiveBayesScoreStored(
          s, "graft_bench_nbmodel_q242",
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", "lang")
        .orderBy("doc_id")
    }),

    // Filtered vector search (r12): ONE index, per-query attribute
    // filters — the filter PRE-filters the stored cell frame (a
    // post-filter on ranked results silently loses recall when the
    // true filtered NN ranks below unfiltered k). Index shared across
    // filters, guarded build; floor contract = ≥2 of the FILTERED
    // exact top-3 at nprobe 12/16.
    "q232_filtered_ann" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      val evens = emb.filter(pmod(col("label"), lit(2)) === 0)
      val exact = Similarity.knnBatch(evens, probes, "vec_id", "embedding",
          k = 3)
        .select(col("probe_id"), col("rn"), col("nn_id"), col("sim"))
        // the exact top-3 frame is read twice (recall-hit join + the
        // emitted rows); one 15-row materialization instead of two
        // full-corpus cosine scans (r16)
        .transform(Materialize(_))
      ensureStoredIndex("graft_bench_ivf_q232", d) {
        val (cells, centroids) =
          Similarity.ivfIndex(emb, "vec_id", "embedding", nlist = 16)
        Warehouse.save(Layout.Ivf, "graft_bench_ivf_q232", cells, centroids)
      }
      val filteredCells = s.table("graft_bench_ivf_q232")
        .join(evens.select(col("vec_id").as("id")), "id")
      val ivf = Similarity.ivfCosineTopKFrom(filteredCells,
          s.table(Warehouse.sideTable("graft_bench_ivf_q232", Side.Centroids)),
          probes,
          "vec_id", "embedding", k = 3, nprobe = 12)
        .select(col("probe_id"), col("nn_id"))
      val hits = exact.join(ivf, Seq("probe_id", "nn_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("hits"))
      exact.join(hits, Seq("probe_id"), "left")
        .select(col("probe_id"), col("rn"), col("nn_id"), col("sim"),
          (coalesce(col("hits"), lit(0L)) >= 2).as("ok"))
        .orderBy("probe_id", "rn")
    }),

    // Late-interaction MaxSim retrieval (r12, Similarity.maxSimTopK):
    // 4×16-dim subvectors, Σ_i max_j sub-cosine — fully value-checked
    // exact top-3 per probe (rank on the ROUNDED score, id tiebreak;
    // the oracle folds the per-sub maxima in the same qs_i order)
    "q231_maxsim" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.maxSimTopK(emb, emb.where(col("vec_id") < 3),
          "vec_id", "embedding", subspaces = 4, subDim = 16, k = 3)
        .orderBy("probe_id", "rn")
    }),

    // Join fan-out pre-flight (q208's sibling): the EXACT output
    // cardinality of a prospective self-join from per-key counts alone
    // — Σ n_k² (and Σ n_a·n_b for two sides) — without running the
    // join, plus the hot key's share in basis points. The "will this
    // join explode" check a 100 TB planner runs before committing a
    // shuffle; key-aggregate cost only, every cell an exact integer.
    "q212_join_preflight" -> ((s, d) => {
      val c = t(s, d, "lineitem").groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"))
      // Σn² guarded against silent long wrap (r12 advice): the double
      // shadow sums true magnitudes (cast before the multiply), so a
      // key hot enough to push any term — or the total — past the
      // long-exact margin raises instead of wrapping; under the guard
      // the long arithmetic (including max's per-term n²) is exact
      val sqShadow = sum(col("n").cast("double") * col("n").cast("double"))
      c.agg(count(lit(1)).as("n_keys"),
          when(assert_true(sqShadow < lit(4.4e18),
            concat(lit("q212 join_rows exceeds the integer-exact bound" +
              " (sum n^2 >= 4.4e18); shadow="), sqShadow.cast("string")))
            .isNull, sum(col("n") * col("n"))).as("join_rows"),
          max(col("n") * col("n")).as("hot_key_rows"))
        .select(col("n_keys"), col("join_rows"), col("hot_key_rows"),
          expr("10000 * hot_key_rows div join_rows").as("hot_share_bp"))
    }),

    // Data-expectation gate (Pipeline.expectations): named rules in
    // one aggregate scan, exact violation counts + pass flags — the
    // CI gate of a 100 TB pipeline, plus the one rule that needs a
    // distinct (line-key uniqueness) composed alongside. The synthetic
    // lineitem REALLY carries duplicate (orderkey, linenumber) pairs
    // (the q193 discovery), so the uniqueness row is data-bearing.
    "q211_expectations" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val rules = Seq(
        "discount_range" ->
          (col("l_discount") >= 0.0 && col("l_discount") <= 1.0),
        "flag_domain" -> col("l_returnflag").isin("A", "N", "R"),
        "price_positive" -> (col("l_extendedprice") > 0.0),
        "qty_range" -> (col("l_quantity") >= 1.0 && col("l_quantity") <= 50.0),
        "ship_not_null" -> col("l_shipdate").isNotNull)
      val uniq = li.agg((count(lit(1)) -
          countDistinct(col("l_orderkey"), col("l_linenumber")))
          .as("n_violations"))
        .select(lit("line_key_unique").as("rule"), col("n_violations"),
          (col("n_violations") === 0).as("pass"))
      Pipeline.expectations(li, rules)
        .unionByName(uniq)
        .orderBy("rule")
    }),

    // Distinct-user rollup maintenance (Rollup.distinctPartials): the
    // q201 split applied to the FOURTH mergeable aggregate — HLL
    // sketch partials stored + appended blind, estimated after the
    // union. Distinct does not sum, so the sketch is the only
    // incremental path; the oracle is therefore the q78 tolerance
    // contract with the exact counts data-bearing beside it.
    "q210_rollup_distinct" -> ((s, d) => {
      val ev = CoreQueries.events(s, d)
      val day = expr("ts_ns div 86400000000000")
      val tbl = "graft_bench_rollup_q210"
      Warehouse.save(Layout.Rollup, tbl, Rollup.distinctPartials(
        ev.filter(col("event_id") % 10 < 9), day,
        col("event_type"), col("user_id")))
      Warehouse.append(Layout.Rollup, tbl, Rollup.distinctPartials(
        ev.filter(col("event_id") % 10 === 9), day,
        col("event_type"), col("user_id")))
      val est = Rollup.estimateDistinct(s.table(tbl))
      val exact = ev.select(day.as("day"), col("event_type"), col("user_id"))
        .groupBy("day", "event_type")
        .agg(countDistinct("user_id").as("n_exact"))
      est.join(exact, Seq("day", "event_type"))
        .select(col("day"), col("event_type"), col("n_exact"),
          (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.05)
            .as("ok"))
        .orderBy("day", "event_type")
    }),

    // Equi-depth price histogram: 8 exact-ntile buckets from the
    // distributed global rank (q149 arithmetic), id = orderkey*8+line.
    "q193_equidepth" -> ((s, d) =>
      Pipeline.equiDepthHistogram(t(s, d, "lineitem"),
        col("l_extendedprice"), bins = 8)),

    // DECLARATIVE band join: the raw point-BETWEEN-interval predicate,
    // no manual binning — BandJoinRewrite (SparkSessionExtensions
    // optimizer rule) rewrites it to the binned equi-join at plan time
    // once spark.graft.bandJoin.binWidth is set. The conf stays on for
    // the session: the rule only fires on KEYLESS point-in-interval
    // inner joins, a shape no other board query has (q97/q105 bin
    // manually and carry the equality conjunct the rule's guard skips).
    // Bands overlap by half, so each price lands in up to two.
    "q195_band_join" -> ((s, d) => {
      // binWidth scoped to a CHILD session (r12 advice: set on `s` it
      // leaked to every later keyless point-in-interval join in the
      // session, inheriting a width tuned for price data). newSession()
      // shares the SparkContext and extensions (the rule still fires at
      // execution time, which is when it reads the conf) but owns its
      // SQLConf, so the parent session never sees the knob; builder
      // confs (shuffle partitions, UTC) carry over as initial options.
      val sq = s.newSession()
      sq.conf.set("spark.graft.bandJoin.binWidth", "11000")
      val li = t(sq, d, "lineitem").select(col("l_extendedprice").as("p"))
      val bands = sq.range(0, 10).select(col("id").as("band"),
        (col("id") * 11000.0).as("lo"),
        ((col("id") + lit(2)) * 11000.0).as("hi"))
      li.join(bands, col("p") >= col("lo") && col("p") <= col("hi"))
        .groupBy("band").agg(count(lit(1)).as("n"))
        .orderBy("band")
    }),

    // MAD robust outliers per return flag, in integer CENTS: medians
    // of integers interpolate to exact .0/.5 doubles on both engines,
    // so the 3·1.4826·MAD threshold compare cannot flip on an ulp.
    // Scale note: EXACT percentile buffers each group in one aggregate
    // buffer — right for the oracle contract, but a corpus-scale group
    // swaps in the mergeable HDR sketch (q91) or approx_percentile,
    // trading the exact .5 boundary for bounded memory.
    "q194_mad_outliers" -> ((s, d) => {
      val v = t(s, d, "lineitem").select(col("l_returnflag").as("grp"),
        round(col("l_extendedprice") * 100).cast("long").as("c"))
      val med = v.groupBy("grp").agg(expr("percentile(c, 0.5)").as("med"))
      // dev feeds both the MAD percentile and the outlier census; one
      // materialization instead of two lineitem scans + median joins
      val dev = v.join(med, "grp")
        .withColumn("dev", abs(col("c") - col("med")))
        .transform(Materialize(_))
      val mad = dev.groupBy("grp")
        .agg(expr("percentile(dev, 0.5)").as("mad"))
      dev.join(mad, "grp")
        .groupBy("grp")
        .agg(sum(when(col("dev") > lit(4.4478) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"),
          count(lit(1)).as("n_rows"))
        .select(col("grp"), col("n_outliers"),
          round(col("n_outliers") / col("n_rows"), 6).as("share"))
        .orderBy("grp")
    }),

    // Retention RATES (q114 normalized): day-offset survival as an
    // exact-count division against the cohort's day-0 size.
    "q139_retention_rate" -> ((s, d) => {
      val r = Behavior.retention(CoreQueries.events(s, d), "user_id",
        expr(s"(ts_ns div 1000) div $DayUs"))
      val base = r.filter(col("offset") === 0)
        .select(col("cohort"), col("n_entities").as("_c0"))
      r.join(base, "cohort")
        .select(col("cohort"), col("offset").as("day_offset"),
          col("n_entities"),
          round(col("n_entities").cast("double") / col("_c0"), 4).as("rate"))
        .orderBy("cohort", "day_offset")
    }),

    // Time-to-convert statistics (Behavior.conversionTimes): elapsed
    // from first view to the purchase completing the chain, for fully
    // converting users — mean as exact integer µs (the q119 rule),
    // median as an exact ELEMENT (percentile_approx at huge accuracy ≡
    // DuckDB quantile_disc, the q94 trick — interpolated medians at
    // 1e10 µs magnitudes flip the 4th decimal).
    "q137_conversion_time" -> ((s, d) => {
      val ct = Behavior.conversionTimes(CoreQueries.events(s, d), "user_id",
        expr("ts_ns div 1000"), col("event_type"), FunnelStages)
      ct.agg(count(lit(1)).as("n_converted"),
          sum("elapsed").as("_s"),
          percentile_approx(col("elapsed"), lit(0.5), lit(1000000))
            .as("med_elapsed"),
          max("elapsed").as("max_elapsed"))
        .select(col("n_converted"),
          expr("_s div n_converted").as("avg_elapsed"),
          col("med_elapsed"), col("max_elapsed"))
    }),

    // Decayed-load "current hotness" ranking: per class, load weighted
    // by 2^(−age_days) — yesterday counts half. The decay base is 2
    // with an INTEGER exponent, so the weight is an exact dyadic on
    // every engine (pow(2, −n) is exactly representable; an e-based
    // half-life would differ in the last ulp between libms). Age rides
    // the broadcast-max, no driver collect.
    "q136_decayed_load" -> ((s, d) => {
      val ev = CoreQueries.events(s, d)
        .withColumn("us", expr("ts_ns div 1000"))
        .withColumn("item",
          concat_ws("|", col("event_type"), col("user_id") % 500))
      val mx = ev.agg(max("us").as("_mx"))
      ev.crossJoin(broadcast(mx))
        .withColumn("_age", expr(s"(_mx - us) div $DayUs"))
        .groupBy("item")
        .agg(round(sum(col("value") * pow(lit(2.0), -col("_age"))), 4)
          .as("hot"), count(lit(1)).as("cnt"))
        .orderBy(col("hot").desc, col("item"))
        .limit(20)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("hot").desc, col("item"))).cast("long"))
        .select("rn", "item", "hot", "cnt")
    }),

    // Gini load concentration (Qan.giniConcentration): per event
    // class, inequality of load across its users — q134's scalar
    // companion, same round-before-rank determinism rule.
    "q135_gini" -> ((s, d) =>
      Qan.giniConcentration(CoreQueries.events(s, d),
        "event_type", "user_id", col("value"))),

    // Pareto load concentration (Qan.paretoLoad): the classes carrying
    // the first 80% of load over the q51 composite key — per-class
    // loads rounded BEFORE the running sum so both engines accumulate
    // identical values in the identical order.
    "q134_pareto" -> ((s, d) =>
      Qan.paretoLoad(
        CoreQueries.events(s, d)
          .withColumn("item",
            concat_ws("|", col("event_type"), col("user_id") % 500)),
        "item", col("value"), threshold = 0.8)),

    // PER-GROUP heavy hitters (the TopKSketch UDAF grouped — q51's
    // global sketch becomes "top users per event class" with one
    // groupBy; capacity ≥ per-group cardinality here, so counts are
    // exact, err 0, and the sketch's (count desc, item) selection rule
    // equals the oracle's ranking).
    "q133_group_topk" -> ((s, d) => {
      val topk = udaf(new graft.functions.TopKSketch(3, 4096))
      CoreQueries.events(s, d)
        .select(col("event_type"), concat(lit("u"), col("user_id")).as("item"))
        .groupBy("event_type")
        .agg(topk(col("item")).as("tk"))
        .select(col("event_type"), posexplode(col("tk")).as(Seq("pos", "t")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rn"),
          col("t.item").as("item"), col("t.count").as("cnt"),
          col("t.err").as("err"))
        .orderBy("event_type", "rn")
    }),

    // Deterministic exact-k per-group sample (Pipeline
    // .deterministicGroupSample): md5-ordered rank within lang, first
    // 40 docs kept — reproducible balanced subset, exact counts.
    "q132_group_sample" -> ((s, d) =>
      Pipeline.deterministicGroupSample(t(s, d, "documents"), "lang",
          "doc_id", k = GroupSampleK)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("lang")),

    // E2LSH Euclidean ANN (Similarity.l2LshTopK — the p-stable third
    // hash family next to sign-LSH/cosine and MinHash/Jaccard):
    // quantized Gaussian projections bucket the corpus, exact-distance
    // re-rank of colliding candidates; q53's data-bearing contract
    // with the exact L2 top-3 + the ≥2-of-3 floor.
    "q131_l2_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("dist").asc, col("nn_id"))
      val exact = emb
        .select(col("vec_id").as("nn_id"), col("embedding").as("_e_nn"))
        .crossJoin(broadcast(probes.select(col("vec_id").as("probe_id"),
          col("embedding").as("_e_p"))))
        .filter(col("nn_id") =!= col("probe_id"))
        .select(col("probe_id"), col("nn_id"),
          round(Similarity.euclidean(col("_e_p"), col("_e_nn")), 4).as("dist"))
        .withColumn("rn", row_number().over(win).cast("long"))
        .filter(col("rn") <= 3)
      val ann = Similarity.l2LshTopK(emb, probes, "vec_id", "embedding",
          k = 3, tables = L2Tables, bits = L2Bits, w = L2W)
        .select(col("probe_id"), col("nn_id"))
      val hits = exact.join(ann, Seq("probe_id", "nn_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("hits"))
      exact.join(hits, Seq("probe_id"), "left")
        .select(col("probe_id"), col("rn"), col("nn_id"), col("dist"),
          (coalesce(col("hits"), lit(0L)) >= 2).as("ok"))
        .orderBy("probe_id", "rn")
    }),

    // Snapshot diff (Pipeline.snapshotDiff): per-user latest-state CDC
    // between the half-range snapshot and now (broadcast midpoint
    // ride) — added/removed/changed/unchanged per key, one full-outer
    // join of two key-unique states.
    "q129_snapshot_diff" -> ((s, d) => {
      val ev = CoreQueries.events(s, d).withColumn("us", expr("ts_ns div 1000"))
      val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("_mid"))
      val evM = ev.crossJoin(broadcast(mid))
      def latest(df: DataFrame): DataFrame = df
        .withColumn("_rn", row_number().over(
          Window.partitionBy("user_id")
            .orderBy(col("us").desc, col("event_id").desc)))
        .filter(col("_rn") === 1)
        .select(col("user_id"), col("event_type"))
      Pipeline.snapshotDiff(latest(evM.filter(col("us") <= col("_mid"))),
        latest(evM), "user_id", "event_type")
    }),

    // k-anonymity audit (Pipeline.kAnonymityViolations): quasi-id
    // combinations carried by fewer than k documents — the governance
    // gate; one combination-keyed aggregation.
    "q130_k_anonymity" -> ((s, d) =>
      Pipeline.kAnonymityViolations(t(s, d, "documents"),
        Seq("lang", "source"), KAnonK)),

    // Chi-square contingency cells (Qan.chiSquareCells): event mix ×
    // user ring independence — observed, independence-expected, and
    // per-cell χ² contribution, all arithmetic on exact counts.
    "q127_chi_square" -> ((s, d) =>
      Qan.chiSquareCells(CoreQueries.events(s, d),
        col("event_type"), col("user_id") % 4)),

    // Triangle census (Graph.triangleCount) over the basket-pair graph
    // (part pairs with support ≥ 2): degree-ORIENTED wedge join (the
    // compact-forward trick — per-node wedge work bounded by oriented
    // out-degree ≤ √(2|E|), hub-proof) + one closure semi-join; the
    // oracle brute-forces the triple join and the Σ C(d,2) wedge count.
    "q128_triangles" -> ((s, d) => {
      val it = t(s, d, "lineitem")
        .select(col("l_orderkey").as("tx"), col("l_partkey").as("itm"))
        .distinct()
      val e = it.select(col("tx"), col("itm").as("u"))
        .join(it.select(col("tx"), col("itm").as("v")), Seq("tx"))
        .filter(col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("_cp"))
        .filter(col("_cp") >= 2)
        .select("u", "v")
      Graph.triangleCount(e, "u", "v")
    }),

    // Market-basket association (Behavior.associationPairs): top part
    // pairs by lift over orders-as-transactions — basket-bounded
    // self-join (Σ_tx |items|², never corpus²), lift from exact counts.
    "q126_basket_lift" -> ((s, d) =>
      Behavior.associationPairs(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minSupport = 2L, topK = 20)),

    // Prefix-filtering exact Jaccard pairs (Dedup
    // .prefixFilterJaccardPairs, the AllPairs/PPJoin rule): candidates
    // from RARE-shingle prefix collisions only — recall 1.0 is the
    // prefix lemma, not a tuning outcome, so the oracle is the same
    // brute-force result as q26/q40.
    "q123_prefix_jaccard" -> ((s, d) =>
      Dedup.prefixFilterJaccardPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = 0.6)
        .orderBy("da", "db")),

    // Series densification (Qan.densify): hourly event counts with
    // silent hours filled as ZERO over the series' own range — spine
    // from a broadcast bounds row + sequence explode, no driver range.
    "q124_densify" -> ((s, d) =>
      Qan.densify(
        CoreQueries.events(s, d)
          .withColumn("hb", expr("(ts_ns div 1000) div 3600000000"))
          .groupBy("event_type", "hb").agg(count(lit(1)).as("cnt")),
        "event_type", "hb", "cnt")),

    // A/B readout with Welch t (Qan.abWelch): arms hash-assigned by
    // the q54 bucket16 machinery (engine-reproducible), both arms'
    // moments as conditional aggregates of ONE groupBy, rounding only
    // at the output.
    "q125_ab_welch" -> ((s, d) =>
      Qan.abWelch(CoreQueries.events(s, d), "event_type",
        Pipeline.hashBucket16(col("user_id")) < 32768, col("value"))),

    // First-order Markov transition matrix (Behavior.transitionMatrix):
    // P(next | current) over each user's time-ordered sequence — one
    // lead window + a |types|²-keyed count; the probability is ONE
    // division of exact counts (identical doubles on every engine).
    "q121_transitions" -> ((s, d) =>
      Behavior.transitionMatrix(CoreQueries.events(s, d), "user_id",
        expr("ts_ns div 1000"), col("event_id"), col("event_type"))),

    // Column-profile report (Pipeline.profileColumns): row/non-null/
    // distinct counts + stringified min/max for k columns in ONE scan
    // (single aggregation + explode unpivot); the oracle recomputes
    // per column with UNION ALL branches generated from the same list.
    "q122_profile" -> ((s, d) =>
      Pipeline.profileColumns(t(s, d, "events"), ProfileCols)),

    // k-fold assignment audit (Pipeline.kfold): bucket16(id) mod 5 —
    // per-fold doc/token census; the q54 hash machinery rotating
    // instead of thresholding, so CV slices need no seed bookkeeping.
    "q110_kfold" -> ((s, d) =>
      t(s, d, "documents")
        .select(Pipeline.kfold(col("doc_id"), KFolds).as("fold"),
          TextAnalysis.wordCount(col("text")).cast("long").as("_tok"))
        .groupBy("fold")
        .agg(count(lit(1)).as("n_docs"), sum("_tok").as("tokens"))
        .orderBy("fold")),

    // Blocked Jaro-Winkler near-dup pairs (Dedup.jaroWinklerPairs over
    // the native JaroWinklerExpr — byte-parity with DuckDB's
    // jaro_winkler_similarity, threshold on the rounded sim): q102's
    // blocks with the record-linkage metric.
    "q109_jw_pairs" -> ((s, d) =>
      Dedup.jaroWinklerPairs(t(s, d, "documents"), "doc_id",
          substring(col("text"), 1, EditPrefix),
          Seq(col("lang"), split(col("text"), " ").getItem(0)),
          JwMinSim, maxBlock = Some(100L))
        .orderBy("a_id", "b_id")),

    // Character-entropy quality filter (TextAnalysis.charEntropy —
    // the codegen'd one-pass CharEntropyExpr; the explode+aggregate
    // formulation is the spec parity reference): per-doc Shannon
    // entropy in nats, one rounding site via H = ln n − Σ c·ln c / n
    // on both engines.
    "q107_char_entropy" -> ((s, d) =>
      TextAnalysis.charEntropy(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // Distribution-drift monitor (Qan.psiDrift): PSI of the value
    // distribution per event_type between the first and second half of
    // the time range (broadcast midpoint, q85/q88's no-collect ride),
    // fixed-width bins + add-one smoothing over each type's observed
    // bin set — both engines recompute masses, smoothing, and the sum.
    "q108_psi_drift" -> ((s, d) => {
      val ev = CoreQueries.events(s, d)
        .withColumn("us", expr("ts_ns div 1000"))
      val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("_mid"))
      Qan.psiDrift(
          ev.crossJoin(broadcast(mid))
            .withColumn("is_ref", col("us") <= col("_mid")),
          "event_type", "value", "is_ref", binWidth = PsiBinWidth)
        .orderBy("event_type")
    }),

    // Two-sample KS drift (r13, Qan.ksDrift): the binless,
    // parameter-free distribution-shift monitor beside q108's PSI
    // (which needs bins + smoothing) and q127's chi-square — D's
    // numerator max |cumRef·n_cur − cumCur·n_ref| is EXACT integer
    // cross-multiplication over pooled distinct cents (q194's units),
    // one double division at the edge; same midpoint split as q108.
    "q248_ks_drift" -> ((s, d) => {
      val ev = CoreQueries.events(s, d)
        .withColumn("us", expr("ts_ns div 1000"))
      val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("_mid"))
      Qan.ksDrift(
          ev.crossJoin(broadcast(mid))
            .withColumn("cents", round(col("value") * 100).cast("long"))
            .withColumn("is_ref", col("us") <= col("_mid")),
          "event_type", "cents", "is_ref")
        .orderBy("event_type")
    }),

    // New-key detection (Qan.firstSeen — the review-table "which query
    // classes are NEW this window?" question) on the q51 composite key
    // (2500 classes, so the range midpoint genuinely splits them):
    // first/last seen in epoch-µs, is_new = zero occurrences before the
    // broadcast midpoint. Same no-driver-collect midpoint ride as q85.
    "q88_first_seen" -> ((s, d) => {
      val ev = CoreQueries.events(s, d)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .withColumn("item",
          concat_ws("|", col("event_type"), col("user_id") % 500))
      val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("_mid"))
      Qan.firstSeen(ev.crossJoin(broadcast(mid)), "item", col("ts_us"),
        col("_mid"))
    }),

    // Semantic dedup APPLIED (Dedup.semanticDedup — the embedding twin
    // of q80's text closure): q45's pairs → connected components → one
    // survivor per cluster. The oracle recomputes the full brute-force
    // cosine closure, so blocking recall, clustering, and the anti-join
    // are all under the hash check; the entry ships the surviving ids.
    "q89_semantic_dedup" -> ((s, d) =>
      Dedup.semanticDedup(t(s, d, "embeddings").filter(col("vec_id") < 1000),
          "vec_id", "embedding", threshold = 0.9)
        .select(col("vec_id"))
        .orderBy("vec_id")),

    // Regex redaction at corpus scale (the PII-scrub shape: pattern →
    // count + replace); the corpus plants no emails, so the scrubbed
    // token is a domain word — the operator is the contract, the
    // pattern is a parameter.
    "q68_redact" -> ((s, d) => {
      val pat = "\\bcustomer\\b"
      t(s, d, "documents")
        .select(col("lang"),
          regexp_count(col("text"), lit(pat)).cast("long").as("hits"),
          length(regexp_replace(col("text"), pat, "[REDACTED]"))
            .cast("long").as("redacted_len"))
        .groupBy("lang")
        .agg(sum("hits").as("n_hits"), sum("redacted_len").as("total_len"))
        .orderBy("lang")
    }),

    // Intra-document repetition: distinct-token ratio — the in-doc
    // cousin of corpus dedup (boilerplate/looped text scores low)
    "q69_repetition" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val ratio = size(array_distinct(toks)).cast("double") / size(toks)
      t(s, d, "documents")
        .select(col("lang"), ratio.as("r"))
        .groupBy("lang")
        .agg(count(when(col("r") < 0.3, 1)).as("n_repetitive"),
          round(avg("r"), 4).as("avg_ratio"))
        .orderBy("lang")
    }),

    // The SQL-text surface: spark.sql(...) with a scalar subquery and a
    // correlated EXISTS — Catalyst's subquery planning (rewrite to
    // joins), exercised through the exact SQL text the oracle runs.
    "q70_sql_subquery" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      s.sql(
        """SELECT o_orderkey, round(o_totalprice, 4) AS tp
          |FROM orders_v o
          |WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders_v)
          |  AND EXISTS (SELECT 1 FROM customer_v c
          |              WHERE c.c_custkey = o.o_custkey
          |                AND c.c_acctbal > 0)
          |ORDER BY o_orderkey""".stripMargin)
    }),

    // LATERAL correlated subquery with per-row ORDER BY + LIMIT — the
    // SQL-text top-N-per-group (Catalyst decorrelates it into a
    // ranked join; the DataFrame twin is the q09 rank window). Ties
    // broken by o_orderkey inside the LIMIT so the 2-row cut is total.
    "q198_lateral" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          |FROM customer_v c,
          |  LATERAL (SELECT o_orderkey, o_totalprice FROM orders_v o
          |           WHERE o.o_custkey = c.c_custkey
          |           ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |WHERE c.c_custkey <= 500
          |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
    }),

    // relational UNPIVOT (wide measures → (name, val) rows)
    "q62_unpivot" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 4).as("qty"),
          round(sum("l_discount"), 4).as("disc"))
        .unpivot(Array(col("l_returnflag")), Array(col("qty"), col("disc")),
          "name", "val")
        .orderBy("l_returnflag", "name")),

    // RANGE frame over event time: per-user trailing-1h sum. Both sides
    // order and frame on MICROsecond longs — DuckDB truncates the
    // parquet ns timestamps to µs on read (verified ...999 ns → ...275
    // µs), so Spark must use ts_ns div 1000, never raw ns.
    "q63_range_frame" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-3600L * 1000000L, 0L)
      CoreQueries.events(s, d)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .select(col("event_id"), round(sum("value").over(w), 4).as("w1h"))
        .orderBy("event_id")
    }),

    // first_value / nth_value windows + nullif/coalesce scalar nulls
    "q64_value_windows" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      CoreQueries.events(s, d)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .select(col("event_id"),
          first("event_id").over(w).as("f"),
          nth_value(col("event_id"), 2).over(w).as("n2"),
          coalesce(expr("nullif(event_type, 'click')"), lit("CLK")).as("cc"))
        .orderBy("event_id")
    }),

    // posexplode: token with its 0-based position
    "q65_posexplode" -> ((s, d) =>
      t(s, d, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("tok"))
        .orderBy("doc_id", "pos")),

    // grouping_id labels the rollup levels (same bit encoding both
    // engines: detail 0, subtotal 1, grand total 3)
    "q66_grouping_id" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping_id().cast("long").as("g"), count(lit(1)).as("cnt"))
        .orderBy(col("g").desc, col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // Relational PIVOT with an explicit value list (no extra pass to
    // discover columns); cells coalesced to 0 to match the oracle's
    // FILTERed counts on any data.
    "q58_pivot" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = CoreQueries.events(s, d)
        .groupBy((col("user_id") % 10).as("ug"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      p.select(col("ug") +:
          types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("ug")
    }),

    // statistical aggregates: Pearson corr, sample covariance/stddev
    "q59_stats_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(corr("l_quantity", "l_extendedprice"), 6).as("c"),
          round(covar_samp("l_quantity", "l_extendedprice"), 4).as("cv"),
          round(stddev_samp(col("l_quantity")), 6).as("sd"))
        .orderBy("l_returnflag")),

    // ordered collect: collect_set sorted then truncated — the only
    // deterministic (hence oracle-able) way to emit a grouped list
    "q60_collect_sorted" -> ((s, d) =>
      CoreQueries.events(s, d)
        .groupBy("event_type")
        .agg(array_join(slice(sort_array(collect_set(col("user_id") % 50)),
          1, 5), ",").as("top"))
        .orderBy("event_type")),

    // regexp family: extract / replace / match
    "q61_regexp" -> ((s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"),
          regexp_extract(col("p_name"), "^(\\w+)", 1).as("fw"),
          regexp_replace(col("p_brand"), "#", "-").as("b2"),
          col("p_type").rlike("BRASS$").as("ib"))
        .orderBy("p_partkey")),

    // Salted skew join: events are Zipfian on event_type (5 hot keys,
    // ~20% of the table each); the salt widens the shuffle key to
    // (event_type, salt) so no single reducer owns a hot key. The
    // result is IDENTICAL to the plain join — which is exactly what the
    // oracle states.
    "q57_salted_join" -> ((s, d) => {
      val ev = CoreQueries.events(s, d)
      val dim = ev.select(col("event_type")).distinct()
        .withColumn("type_tag", upper(col("event_type")))
      Skew.saltedJoin(ev, dim, "event_type", "event_id", salts = 8)
        .groupBy("type_tag")
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sv"))
        .orderBy("type_tag")
    }),

    // IVF-flat ANN against the exact top-3. Since round 10 the oracle is
    // DATA-BEARING (r9 advice): the entry emits the exact kNN neighbor
    // set itself — (probe_id, rn, nn_id, sim), which DuckDB re-ranks
    // independently — plus the per-probe recall-floor `ok` (≥2 of 3
    // IVF hits at nprobe=8 of nlist=16). KMeans cell assignments are
    // seeded but not bit-stable, so the floor — not the IVF neighbor
    // identities — stays the ANN half of the contract; the exact half
    // is now checked as values, not a self-graded boolean.
    // Since round 8 the entry exercises the PERSIST-AND-PROBE path (the
    // q75 pattern): the inverted file + centroid table are written once
    // as warehouse tables (Layout.Ivf, cell-bucketed) and
    // the probe consumes the STORED tables — the production split the
    // stored-index specs prove pruning for. Table names are
    // graft_bench_-prefixed: internal scratch namespace, never a user
    // table (r7 ADVICE).
    "q53_ivf_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      val exact = Similarity.knnBatch(emb, probes, "vec_id", "embedding", k = 3)
        .select(col("probe_id"), col("rn"), col("nn_id"), col("sim"))
        // the exact top-3 frame is read twice (recall-hit join + the
        // emitted rows); one 15-row materialization instead of two
        // full-corpus cosine scans (r16)
        .transform(Materialize(_))
      val (cells, centroids) =
        Similarity.ivfIndex(emb, "vec_id", "embedding", nlist = 16)
      Warehouse.save(Layout.Ivf, "graft_bench_ivf_q53", cells, centroids)
      storedIndexOwner.put("graft_bench_ivf_q53", d)
      val ivf = Similarity.ivfCosineTopKFrom(s.table("graft_bench_ivf_q53"),
          s.table(Warehouse.sideTable("graft_bench_ivf_q53", Side.Centroids)),
          probes,
          "vec_id", "embedding", k = 3, nprobe = 8)
        .select(col("probe_id"), col("nn_id"))
      val hits = exact.join(ivf, Seq("probe_id", "nn_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("hits"))
      exact.join(hits, Seq("probe_id"), "left")
        .select(col("probe_id"), col("rn"), col("nn_id"), col("sim"),
          (coalesce(col("hits"), lit(0L)) >= 2).as("ok"))
        .orderBy("probe_id", "rn")
    }),

    // SQ8 scalar-quantized ANN against the exact top-3 (q53's
    // persist-and-probe contract, training-free member of the
    // quantized family): per-dimension 255-level codes stored +
    // dequantized-midpoint candidate scan, exact re-rank of 20.
    // 255 levels/dim at dim 64 leaves reconstruction error far under
    // neighbor gaps — measured 3/3 recall for every probe at both
    // oracle SFs, so the ≥2-of-3 floor has one-hit margin.
    "q117_sq8_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      val exact = Similarity.knnBatch(emb, probes, "vec_id", "embedding", k = 3)
        .select(col("probe_id"), col("rn"), col("nn_id"), col("sim"))
        // the exact top-3 frame is read twice (recall-hit join + the
        // emitted rows); one 15-row materialization instead of two
        // full-corpus cosine scans (r16)
        .transform(Materialize(_))
      val (codes, params) = Similarity.sq8Index(emb, "vec_id", "embedding")
      Warehouse.save(Layout.Sq8, "graft_bench_sq8_q117", codes, params)
      storedIndexOwner.put("graft_bench_sq8_q117", d)
      val sq = Similarity.sq8CosineTopKFrom(s.table("graft_bench_sq8_q117"),
          s.table(Warehouse.sideTable("graft_bench_sq8_q117", Side.Params)),
          emb, probes,
          "vec_id", "embedding", k = 3, candidates = 20)
        .select(col("probe_id"), col("nn_id"))
      val hits = exact.join(sq, Seq("probe_id", "nn_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("hits"))
      exact.join(hits, Seq("probe_id"), "left")
        .select(col("probe_id"), col("rn"), col("nn_id"), col("sim"),
          (coalesce(col("hits"), lit(0L)) >= 2).as("ok"))
        .orderBy("probe_id", "rn")
    }),

    // PQ ANN against the exact top-3, data-bearing oracle (q53 pattern,
    // round 10): exact neighbor rows checked as values, ≥2-of-3 PQ
    // recall floor as `ok`. candidates=150 (cut from the round-5
    // setting of 200, enabled by per-subspace codebooks +
    // farthest-point seeding): per-probe hits measured at BOTH
    // oracle SFs — 150 recalls 3/3 for every probe (one-hit margin over
    // the ≥2 floor); 100 also passes but with ZERO margin on one sf0.1
    // probe, too tight for a codebook fit whose float-sum order is not
    // bit-stable across partitionings.
    "q83_pq_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      val exact = Similarity.knnBatch(emb, probes, "vec_id", "embedding", k = 3)
        .select(col("probe_id"), col("rn"), col("nn_id"), col("sim"))
        // the exact top-3 frame is read twice (recall-hit join + the
        // emitted rows); one 15-row materialization instead of two
        // full-corpus cosine scans (r16)
        .transform(Materialize(_))
      val pq = Similarity.pqCosineTopK(emb, probes, "vec_id", "embedding",
          k = 3, candidates = 150)
        .select(col("probe_id"), col("nn_id"))
      val hits = exact.join(pq, Seq("probe_id", "nn_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("hits"))
      exact.join(hits, Seq("probe_id"), "left")
        .select(col("probe_id"), col("rn"), col("nn_id"), col("sim"),
          (coalesce(col("hits"), lit(0L)) >= 2).as("ok"))
        .orderBy("probe_id", "rn")
    }),

    // TF-IDF top terms per language: two vocabulary-keyed aggregates, a
    // term join, broadcast corpus count, top-k window — ranked on the
    // ROUNDED score so cross-engine ln() ulp differences cannot reorder.
    "q71_tfidf" -> ((s, d) =>
      TextAnalysis.tfIdfTopTerms(t(s, d, "documents"), "doc_id", "text",
          byCol = "lang", k = 3)
        .orderBy("lang", "rn")),

    // Deterministic stratified downsample: per-lang keep decision is
    // pure arithmetic on md5(doc_id) — re-runnable, partitioning-proof —
    // with thresholds generated into the oracle from the same constants.
    "q72_stratified_sample" -> ((s, d) =>
      Pipeline.stratifiedSample(t(s, d, "documents"), "doc_id", "lang",
          SampleRates, SampleDefaultRate)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")),

    // CDC latest-row-wins upsert compaction over the event changelog:
    // one surviving row per user. Ordered by the µs timestamp (DuckDB
    // truncates the ns column on read) with event_id as the unique
    // tiebreaker.
    "q73_latest_wins" -> ((s, d) =>
      Pipeline.latestByKey(
          CoreQueries.events(s, d)
            .withColumn("ts_us", expr("ts_ns div 1000")),
          Seq("user_id"), Seq(col("ts_us"), col("event_id")))
        .select(col("user_id"), col("event_type").as("last_type"),
          round(col("value"), 4).as("last_value"), col("ts_us").as("last_us"))
        .orderBy("user_id")),

    // Fixed-width value histogram per event type — the scan-shaped
    // distribution profile (map-side partials, bounded key space).
    "q74_histogram" -> ((s, d) =>
      Pipeline.histogram(CoreQueries.events(s, d), "value", 10.0,
          Seq("event_type"))
        .orderBy("event_type", "bin")),

    // SimHash banded near-dup join — the hamming "index": only pairs
    // sharing a 16-bit band meet (bucket join, never all-pairs); exact
    // hamming verify of the candidates. The oracle replicates the same
    // band condition over an all-pairs join (fine at oracle scale).
    // Since round 7 the entry exercises the PERSIST-AND-PROBE path:
    // fingerprints are written once as a key-bucketed warehouse table
    // (Layout.SimHash) and the pair join consumes the
    // stored table — both sides arrive hash-distributed on `key`, so
    // the join itself needs no exchange, and future probes never
    // re-fingerprint the corpus. Output (and oracle) unchanged. The
    // table name is graft_bench_-prefixed: internal scratch namespace,
    // never a plausible user table (r7 ADVICE flagged the old
    // graft_simhash_idx as clobber-able).
    "q75_simhash_neardup" -> ((s, d) => {
      val bands = Dedup.simHashBandFrame(t(s, d, "documents"), "doc_id",
        split(col("text"), " "))
      Warehouse.save(Layout.SimHash, "graft_bench_simhash_q75", bands)
      storedIndexOwner.put("graft_bench_simhash_q75", d)
      Dedup.simHashNearDupPairsFrom(s.table("graft_bench_simhash_q75"), "doc_id",
          maxHamming = 16)
        .orderBy("da", "db")
    }),

    // PMI bigram collocations: the statistical phrase-extraction shape
    // (two vocabulary aggregates + joins), ranked on the rounded score.
    "q76_pmi_bigrams" -> ((s, d) =>
      TextAnalysis.pmiBigrams(t(s, d, "documents"), "text",
          minCount = 5L, k = 20)
        .orderBy(col("pmi").desc, col("w1"), col("w2"))),

    // Importance-weighted sampling: keep probability = wordCount/100,
    // decided by pure md5 arithmetic — the quality-weighted corpus
    // rebalance, deterministic in both engines.
    "q77_weighted_sample" -> ((s, d) =>
      Pipeline.weightedSample(t(s, d, "documents"), "doc_id",
          TextAnalysis.wordCount(col("text")) / lit(100.0))
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")),

    // Re-aggregable distinct-count sketch table (the 100 TB pattern:
    // persist small per-(key, day) HLL sketches, merge at query time —
    // never rescan raw data). Contract: the merged estimate is within
    // 5% of the exact per-type distinct count (q34 tolerance pattern);
    // the daily-merge = direct-sketch equality is spec-proven.
    "q78_sketch_table" -> ((s, d) => {
      val ev = CoreQueries.events(s, d)
        .withColumn("day", expr("ts_ns div 86400000000000"))
      val sketches = ev.groupBy("event_type", "day")
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val est = sketches.groupBy("event_type")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct("user_id").as("ex"))
      est.join(exact, "event_type")
        .select(col("event_type"),
          (abs(col("est") - col("ex")) <= col("ex") * 0.05).as("ok"))
        .orderBy("event_type")
    }),

    // Sketch-based retention (HLL set algebra): day-over-day audience
    // overlap by INCLUSION-EXCLUSION over mergeable sketches
    // (est∩ = estA + estB − est∪) — the 100 TB path where the exact
    // distinct self-join is the expensive op; the q78-style contract
    // emits the exact counts plus a 10%-tolerance ok (generous: at
    // these cardinalities the datasketches HLL is in near-exact sparse
    // mode, and the overlap is ~88% of either side).
    "q187_sketch_retention" -> ((s, d) => {
      val ev = CoreQueries.events(s, d)
        .withColumn("day", expr("ts_ns div 86400000000000"))
      val sk = ev.groupBy("day")
        .agg(expr("hll_sketch_agg(user_id)").as("sk"),
          countDistinct("user_id").as("ex"))
      val a = sk.select(col("day"), col("sk").as("ska"), col("ex").as("na"))
      val b = sk.select((col("day") - 1).as("day"), col("sk").as("skb"),
        col("ex").as("nb"))
      val du = ev.select("day", "user_id").distinct()
      val ovl = du.join(du.select((col("day") - 1).as("day"), col("user_id")),
          Seq("day", "user_id"))
        .groupBy("day").agg(count(lit(1)).as("ovl"))
      a.join(b, "day")
        .withColumn("_est", expr("hll_sketch_estimate(ska)") +
          expr("hll_sketch_estimate(skb)") -
          expr("hll_sketch_estimate(hll_union(ska, skb))"))
        .join(ovl, "day")
        .select(col("day"), col("na"), col("nb"), col("ovl"),
          (abs(col("_est") - col("ovl")) <= col("ovl") * 0.10).as("ok"))
        .orderBy("day")
    }),

    // Sliding-window chunking (40-word windows, 10-word overlap):
    // context-window preparation; md5 proves chunk content end-to-end.
    "q79_chunking" -> ((s, d) =>
      Pipeline.chunkDocuments(t(s, d, "documents"), "doc_id", "text",
          chunkSize = 40, overlap = 10)
        .orderBy("doc_id", "chunk_id")),

    // Composite quality score (stopword ratio + inverse punctuation
    // density + length prior) — the prompt-canonical ratio features,
    // generated into the oracle from the same constants.
    "q82_quality_score" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang"), TextAnalysis.qualityScore(col("text")).as("score"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("score"), 4).as("avg_score"),
          sum(when(col("score") >= 0.6, 1L).otherwise(0L)).as("n_high"))
        .orderBy("lang")),

    // SQL session variables (Spark 4 SQL surface): the threshold rides
    // a DECLAREd variable through the same scalar-subquery shape as
    // q70; the oracle inlines the literal. Variables are session state,
    // so the q34-style contract is value-level equality of the result.
    "q81_sql_variable" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_v81")
      s.sql("DECLARE OR REPLACE VARIABLE graft_thresh DOUBLE DEFAULT 0.0")
      s.sql("SET VARIABLE graft_thresh = 1.8")
      s.sql(
        """SELECT o_orderkey, round(o_totalprice, 4) AS tp
          |FROM orders_v81
          |WHERE o_totalprice > graft_thresh *
          |      (SELECT avg(o_totalprice) FROM orders_v81)
          |ORDER BY o_orderkey""".stripMargin)
    }),

    // Mergeable quantile sketch table (the p95 complement of q78's HLL
    // table): per-(event_type, day) HDR log2-histogram sketches built
    // first — the frame a warehouse would persist — then MERGED back
    // down to event_type and read for p50/p95/p99. The oracle computes
    // the sketch directly from the raw rows with the same integer
    // bucket arithmetic: equality IS the re-aggregability proof (a
    // partitioned build cannot drift from the direct one), checked by
    // hash, not tolerance, because every step is integer-exact.
    "q91_quantile_sketch" -> ((s, d) => {
      val ev = CoreQueries.events(s, d)
        .withColumn("day", expr("ts_ns div 86400000000000"))
      val daily = Pipeline.hdrSketch(ev, "value", Seq("event_type", "day"))
      Pipeline.hdrQuantiles(
          Pipeline.hdrMerge(daily, Seq("event_type")),
          Seq("event_type"), Seq(50, 95, 99))
        .orderBy("event_type")
    }),

    // Z-order key (the multi-column data-skipping layout): equal-width
    // value bucket × day-of-epoch bucket, bit-interleaved into the
    // Z-value a writer would range-partition-sort by. The interleave
    // expression is GENERATED once for both engines
    // (Pipeline.zorderKey / zorderKeySql) — pure literal-shift integer
    // arithmetic, hash-checked; the file-box pruning payoff is
    // spec-measured (PipelineSpec), since file layout isn't
    // SQL-observable.
    "q93_zorder_key" -> ((s, d) => {
      val ev = CoreQueries.events(s, d)
      ev.select(col("event_id"),
          least(greatest(floor(col("value")).cast("long"), lit(0L)), lit(511L)).as("zx"),
          pmod(expr("ts_ns div 86400000000000"), lit(512L)).as("zy"))
        .withColumn("zkey", Pipeline.zorderKey(col("zx"), col("zy")))
        .orderBy("zkey", "event_id")
    }),

    // The CAPSTONE: the whole training-corpus preparation pipeline in
    // one entry — quality gate → exact dedup → fuzzy dedup applied →
    // epoch shuffle (Pipeline.prepareCorpus), every stage value-checked
    // against the chained DuckDB replay of the same four stages.
    "q90_prepare_corpus" -> ((s, d) =>
      Pipeline.prepareCorpus(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("shuffle_key"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .orderBy("shuffle_key", "doc_id")),

    // Dedup APPLIED: cluster labels from q67 anti-joined back onto the
    // corpus (non-representatives dropped, unpaired docs kept) — the
    // surviving corpus a dedup pass actually ships, audited per lang.
    "q80_dedup_apply" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.6)
      val drop = Dedup.dedupClusters(pairs, "da", "db")
        .filter(col("node") =!= col("lbl"))
        .select(col("node").as("doc_id"))
      docs.join(drop, Seq("doc_id"), "left_anti")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("tokens"))
        .orderBy("lang")
    })
  )

  /**
   * Bench-only entries (no oracle, never in the correctness surface):
   * timings the 83-query inventory can't isolate. q41's correctness
   * entry deliberately runs exact kNN + ANN + the recall join — right
   * for the contract, wrong as a timing of the ANN path (r5 ADVICE:
   * the ANN speedup was measured nowhere). This times `annCosineTopK`
   * ALONE, same config as q41 (tables=32, bits=5 — the measured-recall
   * choice), so BENCH rounds carry an ANN-only number comparable
   * against q39's exact brute-force path.
   */
  /** q41c's session-cached ANN index, keyed by sf dir: built + persisted
    * on first use (the bench warm-up pass), so the TIMED passes measure
    * probe cost alone — the at-rest production split (index built once,
    * probed forever; [[graft.sources.Layout.Ann]] is the
    * same split with parquet instead of the block-manager cache). */
  private val annIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** Dataset dir that currently OWNS each fixed-name stored bench index
    * table this JVM. The probe-only bench splits (q40b/q53b/q75b/q83b/
    * q112b) probe parquet index TABLES, not a block-manager cache (a
    * memory-persisted frame was evicted mid-bench by storage pressure —
    * r9: 1.1 s isolated, 5.05 s in-bench — while bucketed file reads
    * stay page-cache-stable), and their guarded builds fire when the
    * requesting dataset differs from the recorded owner. The oracle
    * entries that overwrite the same tables (q40/q53/q75) record
    * ownership too. (A per-dataset Unit guard served a STALE table when
    * two datasets interleaved in one JVM — round-11 review finding.) */
  private val storedIndexOwner =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def ensureStoredIndex(table: String, d: String)(build: => Unit): Unit =
    storedIndexOwner.synchronized {
      if (!storedIndexOwner.get(table).contains(d)) {
        build
        storedIndexOwner.put(table, d)
      }
    }

  val benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    // End-to-end ANN at the q41 contract config (32 tables × 5 bits,
    // the measured-recall choice): index build + probe + re-rank. At
    // the oracle SFs (≤2k vectors) the 160 hyperplane dots per corpus
    // row dwarf 5-probe brute force (5 cosines/row) — the number that
    // matters from this entry is the BUILD cost the probe entry below
    // amortizes away.
    "q41b_ann_only" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      Similarity.annCosineTopK(emb, probes, "vec_id", "embedding",
          k = 3, tables = 32, bits = 5)
        .select("probe_id", "nn_id", "sim", "rn")
        .orderBy("probe_id", "rn")
    }),
    // Probe-only ANN against the cached index — the production shape.
    // 500 probes (not the oracle's 5): at test scale a 5-probe query of
    // ANY path sits on the ~0.3 s job-launch floor, so the exact-vs-ANN
    // gap only shows once per-row work dominates. Config tables=32,
    // bits=6 with MEASURED recall under this exact load (SCALE.md §10,
    // 500 probes, k=3): recall@3 = 0.829 at sf0.01 / 0.850 at sf0.1
    // (per-probe hit dist at sf0.1 — 3/3: 310, 2/3: 158, 1/3: 29,
    // 0/3: 3). The former 8×11 "bits≈log₂N" config measured 0.046/0.054
    // — fast by finding nothing (r7 verdict item); every bench config
    // now carries a measured recall like the oracle configs do.
    // Candidate sets are ~tables·N/2^bits ≈ N/2 on this corpus:
    // near-random vectors are LSH's worst case, so ≈2× scan pruning at
    // 0.85 recall IS the frontier here (clustered real embeddings sit
    // far above it; SCALE.md §10 records the recall sweep).
    // Compare q41d_exact_batch — the SAME 500-probe load, exact path.
    "q41c_ann_probe" -> ((s, d) => {
      val idx = annIndexCache.getOrElseUpdate(d, {
        val f = Similarity.annBucketFrame(t(s, d, "embeddings"),
          "vec_id", "embedding", tables = 32, bits = 6).persist()
        f.count() // materialize: index-build cost, paid once
        f
      })
      val probes = t(s, d, "embeddings").filter(col("vec_id") < 500)
      Similarity.annCosineTopKFrom(idx, probes, "vec_id", "embedding",
          k = 3, tables = 32, bits = 6)
        .select("probe_id", "nn_id", "sim", "rn")
        .orderBy("probe_id", "rn")
    }),
    // Multi-probe LSH under q41c's identical 500-probe load, HALF the
    // stored index (16 tables vs 32, bits=8): query-directed flips=6
    // recover what the missing tables would have found. Measured
    // (SCALE.md §10, recall@3 vs exact): 0.823 at sf0.01 / 0.871 at
    // sf0.1 vs q41c's 0.829/0.850 — same recall, half the index rows
    // and half the per-row hash work at build AND probe time. The
    // index-size/recall trade moves to probe-time policy (SCALE.md §10:
    // the third-decade re-tune is flips, not a corpus re-encode).
    "q41e_ann_multiprobe" -> ((s, d) => {
      val idx = annIndexCache.getOrElseUpdate(s"$d#16x8", {
        val f = Similarity.annBucketFrame(t(s, d, "embeddings"),
          "vec_id", "embedding", tables = 16, bits = 8).persist()
        f.count() // materialize: index-build cost, paid once
        f
      })
      val probes = t(s, d, "embeddings").filter(col("vec_id") < 500)
      Similarity.annCosineTopKFromMulti(idx, probes, "vec_id", "embedding",
          k = 3, tables = 16, bits = 8, flips = 6)
        .select("probe_id", "nn_id", "sim", "rn")
        .orderBy("probe_id", "rn")
    }),
    // The exact brute-force path under q41c's identical 500-probe load:
    // the baseline the ANN probe must beat (and the honest version of
    // "ANN vs q39" — q39's 5-probe timing is pure job overhead).
    "q41d_exact_batch" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 500)
      Similarity.knnBatch(emb, probes, "vec_id", "embedding", k = 3)
        .select("probe_id", "nn_id", "sim", "rn")
        .orderBy("probe_id", "rn")
    }),
    // IVF / PQ search alone at the q53/q83 contract configs, against
    // the STORED index tables (round 10, the q75b lesson): the oracle
    // entries deliberately time exact kNN + recall join + index build
    // too (right for the contract, wrong as an ANN timing), so these
    // probe-only splits read the warehouse tables — q53's own entry has
    // already (re)written the IVF pair earlier in bench order; the PQ
    // pair is built once per (JVM, sf dir) in the untimed first call.
    "q53b_ivf_only" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      ensureStoredIndex("graft_bench_ivf_q53", d) {
        val (cells, centroids) =
          Similarity.ivfIndex(emb, "vec_id", "embedding", nlist = 16)
        Warehouse.save(Layout.Ivf, "graft_bench_ivf_q53", cells, centroids)
      }
      Similarity.ivfCosineTopKFrom(s.table("graft_bench_ivf_q53"),
          s.table(Warehouse.sideTable("graft_bench_ivf_q53", Side.Centroids)),
          probes,
          "vec_id", "embedding", k = 3, nprobe = 8)
        .select("probe_id", "nn_id", "sim", "rn")
        .orderBy("probe_id", "rn")
    }),
    "q83b_pq_only" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      ensureStoredIndex("graft_bench_pq_q83b", d) {
        val (codes, cb) = Similarity.pqIndex(emb, "vec_id", "embedding")
        Warehouse.save(Layout.Pq, "graft_bench_pq_q83b", codes, cb)
      }
      Similarity.pqCosineTopKFrom(s.table("graft_bench_pq_q83b"),
          s.table(Warehouse.sideTable("graft_bench_pq_q83b", Side.Codebook)),
          emb, probes,
          "vec_id", "embedding", k = 3, candidates = 150)
        .select("probe_id", "nn_id", "sim", "rn")
        .orderBy("probe_id", "rn")
    }),
    // SimHash near-dup with the fingerprint index PREBUILT: times the
    // banded pair join + hamming verify over the STORED index table
    // alone — the recurring cost once the index is at rest. q75's
    // oracle entry keeps timing build+store+join (its contract); in a
    // bench run q75 has already (re)written the table, so the guarded
    // build here only fires standalone, during the untimed first call.
    // MinHash fuzzy dedup with the band+shingle index PREBUILT: times
    // the banded self-join + exact-Jaccard verify over the STORED
    // tables alone — the recurring cost once the index is at rest
    // (q75b's Jaccard twin). q40's oracle entry keeps timing
    // build+store+join; in a bench run q40 has already (re)written the
    // tables, so the guarded build here only fires standalone.
    "q40b_minhash_probe" -> ((s, d) => {
      ensureStoredIndex("graft_bench_minhash_q40", d) {
        val docs = t(s, d, "documents")
        val sh = Dedup.shingles(docs, "doc_id", "text", n = 3).persist()
        try Warehouse.save(Layout.minHash(), "graft_bench_minhash_q40",
          Dedup.minHashBandFrameFromShingles(sh, "doc_id"), sh)
        finally sh.unpersist()
      }
      Dedup.minHashDedupPairsFrom(
          s.table("graft_bench_minhash_q40"),
          s.table(Warehouse.sideTable("graft_bench_minhash_q40", Side.Shingles)),
          "doc_id")
        .orderBy("da", "db")
    }),
    // SQ8 ANN with the code+params tables PREBUILT: the probe-only
    // split completing the family symmetry (every persisted index —
    // LSH/SimHash/MinHash/IVF/PQ/SQ8/inverted — now has one): timed =
    // dequantized candidate scan + exact re-rank over the STORED
    // tables, the recurring cost once the codes are at rest.
    "q117b_sq8_probe" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      ensureStoredIndex("graft_bench_sq8_q117", d) {
        val (codes, params) = Similarity.sq8Index(emb, "vec_id", "embedding")
        Warehouse.save(Layout.Sq8, "graft_bench_sq8_q117", codes, params)
      }
      Similarity.sq8CosineTopKFrom(s.table("graft_bench_sq8_q117"),
          s.table(Warehouse.sideTable("graft_bench_sq8_q117", Side.Params)),
          emb, probes,
          "vec_id", "embedding", k = 3, candidates = 20)
        .select("probe_id", "nn_id", "sim", "rn")
        .orderBy("probe_id", "rn")
    }),
    // IVF-PQ search alone at the q214 contract config against the
    // STORED tables (codes bucketed by cell, quantizers broadcast):
    // timed = nprobe cell-pruned code scan + residual ADC + exact
    // re-rank of 150 — the recurring cost once the composite index is
    // at rest. q214's own entry keeps timing exact kNN + build too.
    "q214b_ivfpq_probe" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      ensureStoredIndex("graft_bench_ivfpq_q214", d) {
        val (codes, centroids, codebook) = Similarity.ivfPqIndex(
          emb, "vec_id", "embedding", nlist = 16, subspaces = 16)
        Warehouse.save(Layout.IvfPq, "graft_bench_ivfpq_q214", codes, centroids,
          codebook)
      }
      Similarity.ivfPqTopKFrom(s.table("graft_bench_ivfpq_q214"),
          s.table(Warehouse.sideTable("graft_bench_ivfpq_q214", Side.Centroids)),
          s.table(Warehouse.sideTable("graft_bench_ivfpq_q214", Side.Codebook)),
          emb, probes,
          "vec_id", "embedding", k = 3, nprobe = 12, candidates = 150,
          subspaces = 16)
        .select("probe_id", "nn_id", "sim", "rn")
        .orderBy("probe_id", "rn")
    }),
    // Winnowing probe over the STORED q256 selection (r15 — the
    // missing in-board probe split for the thirteenth index family):
    // 20 head docs re-fingerprint (the recurring cost) and match
    // against the bucketed standing table via the hash join alone —
    // the incremental MOSS query once the index is at rest. ScaleBench
    // `winnow_probe` carries the decade exponents; this entry puts the
    // same path on the per-round bench board (guarded build, q75b
    // pattern).
    "q256b_winnow_probe" -> ((s, d) => {
      ensureStoredIndex("graft_bench_winnow_q256", d) {
        val sel = Dedup.winnowingFingerprints(t(s, d, "documents"),
            "doc_id", "text", k = WinnowK, w = WinnowW)
          .select(col("doc_id"), col("fp_hash")).distinct()
          .transform(Materialize(_))
        val rare = sel.groupBy("fp_hash").agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= WinnowMaxDf).select("fp_hash")
        val kept = sel.join(rare, "fp_hash")
        Warehouse.save(Layout.Winnow, "graft_bench_winnow_q256",
          kept.filter(col("doc_id") % 2 === 0))
        Warehouse.append(Layout.Winnow, "graft_bench_winnow_q256",
          kept.filter(col("doc_id") % 2 === 1))
      }
      Dedup.winnowMatchesAgainst(
          Dedup.winnowingFingerprints(
            t(s, d, "documents").filter(col("doc_id") < 20),
            "doc_id", "text", k = WinnowK, w = WinnowW)
            .select(col("doc_id"), col("fp_hash")).distinct(),
          s.table("graft_bench_winnow_q256"), "doc_id",
          minShared = WinnowMinShared)
        .orderBy("probe_id", "match_id")
    }),

    "q75b_neardup_probe" -> ((s, d) => {
      ensureStoredIndex("graft_bench_simhash_q75", d) {
        val bands = Dedup.simHashBandFrame(t(s, d, "documents"), "doc_id",
          split(col("text"), " "))
        Warehouse.save(Layout.SimHash, "graft_bench_simhash_q75", bands)
      }
      Dedup.simHashNearDupPairsFrom(s.table("graft_bench_simhash_q75"),
          "doc_id", maxHamming = 16)
        .orderBy("da", "db")
    }),
    // Conjunctive search over the STORED inverted index (q112's twin of
    // q75/q75b): the postings table is built once per JVM, the timed
    // probe is the term-bucket-pruned intersection alone — the
    // recurring cost of keyword search once the index is at rest.
    "q112b_conj_probe" -> ((s, d) => {
      ensureStoredIndex("graft_bench_inverted_q112", d) {
        Warehouse.save(Layout.Inverted, "graft_bench_inverted_q112",
          Search.postings(t(s, d, "documents"), "doc_id", "text"))
      }
      Search.conjunctiveSearch(s.table("graft_bench_inverted_q112"),
        SearchTerms)
    }),
    // Phrase search over the STORED positional index (q189's at-rest
    // split): the postings persist bucketed by token with positions
    // riding along, so each word of the phrase reads only its buckets —
    // the timed probe is the per-word pruned scans + adjacency joins.
    // Substring probe over the STORED trigram index (q225's at-rest
    // split, the eleventh family): postings built once per JVM, the
    // timed probe is gram-bucket lookups + candidate-only verify.
    "q225b_substr_probe" -> ((s, d) => {
      ensureStoredIndex("graft_bench_trigram_q225", d) {
        Warehouse.save(Layout.Trigram, "graft_bench_trigram_q225",
          Search.trigramPostings(t(s, d, "documents"), "doc_id", "text"))
      }
      Search.substringSearch(s.table("graft_bench_trigram_q225"),
        t(s, d, "documents"), "doc_id", "text", "scan slow")
    }),
    "q189b_phrase_probe" -> ((s, d) => {
      ensureStoredIndex("graft_bench_positional_q189", d) {
        Warehouse.save(Layout.Inverted, "graft_bench_positional_q189",
          Search.positionalPostings(t(s, d, "documents"), "doc_id", "text"))
      }
      Search.phraseDocsFrom(s.table("graft_bench_positional_q189"),
        "slow query")
    }),
    // Lexical-cosine probe over the STORED tf index (q199's at-rest
    // split): the capped tf + norms tables are built once per JVM from
    // the tail corpus; the timed probe admits the 20-doc head batch —
    // the candidate join leaves the token-bucketed stored side
    // unshuffled.
    "q192b_cosine_probe" -> ((s, d) => {
      ensureStoredIndex("graft_bench_lexical_q192", d) {
        val corpusTf = Dedup.cappedLexicalTf(
          t(s, d, "documents").filter(col("doc_id") >= 20),
          "doc_id", "text", maxDf = 400L)
        Warehouse.save(Layout.Lexical, "graft_bench_lexical_q192", corpusTf,
          Dedup.lexicalNorms(corpusTf))
      }
      Dedup.lexicalCosineAgainst(
        t(s, d, "documents").filter(col("doc_id") < 20), "doc_id", "text",
        s.table("graft_bench_lexical_q192"),
        s.table(Warehouse.sideTable("graft_bench_lexical_q192", Side.Norms)),
        minSim = 0.8)
    })
  )

  /** Shared by q56 (exact broadcast screen) and q92 (bloom-gated screen):
    * both compute the identical exact answer, so one oracle serves both. */
  private val contaminationOracleSql: String =
    "WITH docs AS (SELECT doc_id, lang, string_split(text,' ') words FROM documents), sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(words[i:i+4],' ') for i in range(1, len(words)-3)])) AS shingle FROM docs WHERE len(words) >= 5), probe AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20), hits AS (SELECT DISTINCT s.doc_id FROM sh s JOIN probe p USING (shingle) WHERE s.doc_id >= 20) SELECT d.lang, count(*) AS n_contaminated FROM hits h JOIN documents d ON h.doc_id = d.doc_id GROUP BY d.lang ORDER BY d.lang"

  val oracles: Map[String, String] = Map(
    "q25_dedup_rows" ->
      "SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents GROUP BY text ORDER BY doc_id",
    "q26_jaccard_pairs" -> jaccardPairsSql,
    // identical contract to q26: LSH pruning + exact verification must
    // reproduce the brute-force blocked result at full recall
    "q40_minhash_dedup" -> jaccardPairsSql,
    "q27_arg_minmax" ->
      s"SELECT event_type, arg_min(event_id, printf('$sortKeyFmt', value + 1e9, event_id)) AS lo_id, arg_max(event_id, printf('$sortKeyFmt', value + 1e9, event_id)) AS hi_id, count(*) AS cnt FROM events GROUP BY event_type ORDER BY event_type",
    "q28_cube" ->
      "SELECT l_returnflag, l_linestatus, count(*) cnt, round(sum(l_quantity),4) sq FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST",
    "q29_except" ->
      "SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders ORDER BY c_custkey",
    "q30_union_counts" ->
      "SELECT k, count(*) cnt FROM (SELECT c_custkey k FROM customer UNION ALL SELECT o_custkey k FROM orders) t GROUP BY k ORDER BY k",
    "q31_explode_tokens" ->
      "SELECT token, count(*) cnt FROM (SELECT unnest(string_split(text,' ')) token FROM documents) t GROUP BY token ORDER BY cnt DESC, token LIMIT 20",
    "q32_map_fns" ->
      "SELECT event_type, max(CAST(json_extract(props,'$.k') AS INTEGER)) mx, min(CAST(json_extract(props,'$.k') AS INTEGER)) mn, count(*) cnt FROM events GROUP BY event_type ORDER BY event_type",
    "q33_hash_digest" ->
      "SELECT lang, count(DISTINCT upper(substr(md5(text),1,16))) n_digests, count(*) cnt FROM documents GROUP BY lang ORDER BY lang",
    // approx results are engine-specific; the CONTRACT is exactness
    // within 5% of the true value, so the oracle asserts `true` per group
    // and the Spark side computes the tolerance check.
    "q34_approx_distinct" ->
      "SELECT event_type, true AS ok FROM events GROUP BY event_type ORDER BY event_type",
    "q35_approx_quantile" ->
      "SELECT event_type, true AS ok FROM events GROUP BY event_type ORDER BY event_type",
    "q36_lang_id" -> {
      val scores = scoreSqls.zipWithIndex
        .map { case ((_, sql), i) => s"$sql s$i" }.mkString(", ")
      s"SELECT lang, pred, count(*) cnt FROM (SELECT lang, $predSql pred FROM (SELECT lang, $scores FROM documents) t1) t2 GROUP BY lang, pred ORDER BY lang, pred"
    },
    "q37_quality" ->
      "SELECT lang, CASE WHEN wc < 40 THEN 'short' WHEN wc < 70 THEN 'medium' ELSE 'long' END bucket, count(*) cnt, round(avg(length(text)),4) avg_len FROM (SELECT lang, text, length(text)-length(replace(text,' ',''))+1 wc FROM documents) t GROUP BY 1,2 ORDER BY 1,2",
    "q38_token_fingerprint" ->
      s"SELECT lang, CAST(sum(len(regexp_extract_all(text, '${TextAnalysis.TokenPattern}'))) AS BIGINT) total_tokens, count(DISTINCT $fpSql) n_fp, min($fpSql) min_fp FROM documents GROUP BY lang ORDER BY lang",
    "q39_knn_batch" ->
      s"WITH c AS (SELECT p.vec_id probe_id, e.vec_id nn_id, round($cosSql,4) sim FROM embeddings p CROSS JOIN embeddings e WHERE p.vec_id < 5 AND e.vec_id <> p.vec_id) SELECT probe_id, nn_id, sim, rn FROM (SELECT probe_id, nn_id, sim, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, nn_id) rn FROM c) WHERE rn <= 3 ORDER BY probe_id, rn",
    "q45_embed_neardup" -> {
      val pairCos = cosSql.replace("p.embedding", "a.embedding")
        .replace("e.embedding", "b.embedding")
      s"SELECT a.vec_id da, b.vec_id db, round($pairCos, 4) sim FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id WHERE a.vec_id < 1000 AND b.vec_id < 1000 AND $pairCos >= 0.9 ORDER BY da, db"
    },
    "q43_grouping_sets" ->
      "SELECT l_returnflag, l_linestatus, count(*) cnt FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus)) ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST",
    "q44_variance_udaf" ->
      "SELECT event_type, round(var_samp(value), 2) vs, count(*) cnt FROM events GROUP BY event_type ORDER BY event_type",
    "q42_simhash" -> simHashHexSql,
    // exact because capacity (4096) exceeds item cardinality (≤2500):
    // the sketch never evicts, so counts are true counts and err = 0
    "q51_topk_sketch" ->
      "SELECT item, cnt, CAST(0 AS BIGINT) AS err FROM (SELECT event_type || '|' || CAST(user_id % 500 AS VARCHAR) AS item, count(*) AS cnt FROM events GROUP BY 1) t ORDER BY cnt DESC, item LIMIT 10",
    "q52_jaccard_capped" -> jaccardSql(Some(50L)),
    // data-bearing ANN oracles (round 10): DuckDB independently ranks
    // the exact top-3 neighbor set (q39's ranking, same rounded-sim +
    // nn_id tiebreak); only the per-probe recall floor stays a literal
    // TRUE (the ANN side is seeded-but-not-bit-stable, so identities
    // can't be pinned — the exact rows now can)
    "q41_ann_topk" -> exactTop3FloorSql,
    "q53_ivf_recall" -> exactTop3FloorSql,
    "q232_filtered_ann" -> filteredTop3FloorSql,
    // q233: same rounded-double bucket math on both engines; the 20%
    // probe sample mirrored in the WHERE
    "q233_kdist" ->
      (s"WITH c AS (SELECT p.vec_id pid, e.vec_id nid, round($cosSql,4) sim " +
        "FROM embeddings p CROSS JOIN embeddings e WHERE p.vec_id % 5 = 0 AND p.vec_id <> e.vec_id), " +
        "k3 AS (SELECT pid, sim, row_number() OVER (PARTITION BY pid ORDER BY sim DESC, nid) rn FROM c) " +
        "SELECT CAST(floor(sim * 20) AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n " +
        "FROM k3 WHERE rn = 3 GROUP BY 1 ORDER BY 1"),
    // q234/q235: the declared anchor-run semantics verbatim — same
    // k-grams (1-based inclusive slices), same min≠max dup flag over
    // the gram partition, same pos − row_number islands; q235 unions
    // the intervals per doc and filters words positionally (kept_text
    // is the payload check; cut_words = n_words − |kept|)
    "q234_exact_substr" ->
      (s"WITH words AS (SELECT doc_id, string_split(text,' ') ws FROM documents), " +
        s"g AS (SELECT doc_id, unnest([{'p': i-1, 'g': array_to_string(ws[i:i+${ExactSubstrK - 1}],' ')} for i in range(1, len(ws)-${ExactSubstrK - 2})]) AS u FROM words WHERE len(ws) >= $ExactSubstrK), " +
        "a AS (SELECT doc_id, u.p AS pos, u.g AS gram FROM g), " +
        "d AS (SELECT doc_id, pos FROM (SELECT doc_id, pos, min(doc_id) OVER (PARTITION BY gram) <> max(doc_id) OVER (PARTITION BY gram) AS dup FROM a) WHERE dup), " +
        "i AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM d), " +
        "s AS (SELECT doc_id, min(pos) AS span_start, count(*) AS n_anchors FROM i GROUP BY doc_id, isl) " +
        "SELECT s.doc_id, CAST(span_start AS BIGINT) AS span_start, CAST(n_anchors AS BIGINT) AS n_anchors, " +
        s"CAST(n_anchors + ${ExactSubstrK - 1} AS BIGINT) AS span_words, " +
        s"md5(array_to_string(ws[span_start+1 : span_start + n_anchors + ${ExactSubstrK - 1}], ' ')) AS span_md5 " +
        "FROM s JOIN words USING (doc_id) ORDER BY doc_id, span_start"),
    "q235_exact_substr_cut" ->
      (s"WITH words AS (SELECT doc_id, string_split(text,' ') ws FROM documents), " +
        s"g AS (SELECT doc_id, unnest([{'p': i-1, 'g': array_to_string(ws[i:i+${ExactSubstrK - 1}],' ')} for i in range(1, len(ws)-${ExactSubstrK - 2})]) AS u FROM words WHERE len(ws) >= $ExactSubstrK), " +
        "a AS (SELECT doc_id, u.p AS pos, u.g AS gram FROM g), " +
        "d AS (SELECT doc_id, pos FROM (SELECT doc_id, pos, min(doc_id) OVER (PARTITION BY gram) <> max(doc_id) OVER (PARTITION BY gram) AS dup FROM a) WHERE dup), " +
        "i AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM d), " +
        s"s AS (SELECT doc_id, min(pos) AS ss, CAST(min(pos) + count(*) + ${ExactSubstrK - 1} AS BIGINT) AS ee FROM i GROUP BY doc_id, isl), " +
        "iv AS (SELECT doc_id, list(struct_pack(s := ss, e := ee)) AS ivs FROM s GROUP BY doc_id) " +
        "SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_words, " +
        "CAST(len(ws) - len([x for x in range(0, len(ws)) if len([1 for v in coalesce(ivs, []) if x >= v.s AND x < v.e]) = 0]) AS BIGINT) AS cut_words, " +
        // coalesce: DuckDB's array_to_string([]) is NULL, Spark's
        // concat_ws over an empty filter is '' — the q98 empty contract
        "coalesce(array_to_string([ws[x+1] for x in range(0, len(ws)) if len([1 for v in coalesce(ivs, []) if x >= v.s AND x < v.e]) = 0], ' '), '') AS kept_text " +
        "FROM words w LEFT JOIN iv ON w.doc_id = iv.doc_id ORDER BY w.doc_id"),
    // q237: brute-force holdout⋈corpus cosine, raw-threshold filter
    // (the q89 rule), exact hit counts, one-rounding max
    "q237_semantic_decon" ->
      ("WITH h AS (SELECT * FROM embeddings WHERE vec_id < 50), " +
        "c AS (SELECT * FROM embeddings WHERE vec_id >= 50 AND vec_id < 1050) " +
        s"SELECT p.vec_id, CAST(count(*) AS BIGINT) AS n_hits, round(max($cosSql), 4) AS max_sim " +
        s"FROM c p JOIN h e ON $cosSql >= 0.35 " +
        "GROUP BY p.vec_id ORDER BY p.vec_id"),
    // q236: identical DBSCAN read — brute-force ε-pairs (raw-cosine
    // threshold, the q89 rule), degree census, core–core recursive
    // closure to min-id labels (the q67 closure pattern), min-label
    // border attachment, NULL-cluster noise
    "q236_dbscan" ->
      ("WITH RECURSIVE ee AS (SELECT * FROM embeddings WHERE vec_id < 1000), " +
        s"pr AS (SELECT p.vec_id da, e.vec_id db FROM ee p JOIN ee e ON p.vec_id < e.vec_id AND $cosSql >= $DbscanEps), " +
        "sym AS (SELECT da v, db w FROM pr UNION ALL SELECT db, da FROM pr), " +
        s"cores AS (SELECT v FROM (SELECT v, count(*) n FROM sym GROUP BY v) WHERE n >= $DbscanMinPts), " +
        "ce AS (SELECT s.v x, s.w y FROM sym s JOIN cores a ON s.v=a.v JOIN cores b ON s.w=b.v), " +
        "reach(node, lbl) AS (SELECT x, x FROM (SELECT DISTINCT x FROM ce) t UNION SELECT c.x, r.lbl FROM ce c JOIN reach r ON c.y = r.node), " +
        "cl AS (SELECT node, min(lbl) lbl FROM reach GROUP BY node), " +
        "corelbl AS (SELECT c.v node, coalesce(cl.lbl, c.v) lbl FROM cores c LEFT JOIN cl ON cl.node = c.v), " +
        "borderlbl AS (SELECT s.v node, min(k.lbl) lbl FROM sym s JOIN corelbl k ON s.w = k.node WHERE s.v NOT IN (SELECT v FROM cores) GROUP BY s.v) " +
        "SELECT ee.vec_id, CASE WHEN k.lbl IS NOT NULL THEN 'core' WHEN b.lbl IS NOT NULL THEN 'border' ELSE 'noise' END AS role, " +
        "CAST(coalesce(k.lbl, b.lbl) AS BIGINT) AS cluster " +
        "FROM ee LEFT JOIN corelbl k ON ee.vec_id = k.node LEFT JOIN borderlbl b ON ee.vec_id = b.node ORDER BY vec_id"),
    "q238_kmedians" -> kmediansOracleSql,
    "q239_hybrid_rrf" -> hybridRrfOracleSql,
    "q240_matryoshka" -> matryoshkaOracleSql,
    "q241_nb_classify" -> nbClassifyOracleSql,
    // q242: q241's oracle VERBATIM — the stored, incrementally grown
    // model must score identically to a one-shot train (q92 posture)
    "q242_nb_model" -> nbClassifyOracleSql,
    "q243_decon_sweep" -> deconSweepOracleSql,
    "q244_lpa_communities" -> lpaOracleSql,
    "q245_kmedians_assign" -> kmedAssignOracleSql,
    // q246: q240's oracle VERBATIM — the prefix-column stored layout
    // must reproduce the sliced-on-read pipeline exactly
    "q246_matryoshka_stored" -> matryoshkaOracleSql,
    // q247: q82's generated score, single-reducer rank (the
    // distributed globalRank's bound-independent total order), the
    // exact ntile arithmetic, q217's sqrt law per quartile
    "q247_curriculum" ->
      (s"WITH sc AS (SELECT doc_id, $qualityScoreSql AS score, " +
        "CAST(len(text) - len(replace(text, ' ', '')) + 1 AS BIGINT) AS tok FROM documents), " +
        "r AS (SELECT doc_id, tok, row_number() OVER (ORDER BY score, doc_id) AS rn, count(*) OVER () AS n FROM sc), " +
        "b AS (SELECT (rn - 1) * 4 // n AS bucket, count(*) AS n_docs, sum(tok) AS n_tokens FROM r GROUP BY 1), " +
        "z AS (SELECT sum(sqrt(n_tokens)) AS z FROM b) " +
        "SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n_docs AS BIGINT) AS n_docs, " +
        "CAST(n_tokens AS BIGINT) AS n_tokens, round(sqrt(n_tokens) / z.z, 6) AS weight, " +
        s"round($MixBudgetTokens * sqrt(n_tokens) / z.z / n_tokens, 4) AS epochs " +
        "FROM b, z ORDER BY bucket"),
    "q83_pq_recall" -> exactTop3FloorSql,
    "q117_sq8_recall" -> exactTop3FloorSql,
    "q214_ivfpq_recall" -> exactTop3FloorSql,
    // q216: projection rebuilt from jlMatrix-generated literals; top-3
    // ranked on the ROUNDED projected cosine (one rounding site both
    // engines, nn_id tiebreak); original cosine attached via cosSql
    "q216_jl_projection" -> {
      val pcos = "list_sum(list_apply(list_zip(p.proj, e.proj), x -> x[1]*x[2])) / " +
        "(sqrt(list_sum(list_apply(p.proj, x -> x*x))) * sqrt(list_sum(list_apply(e.proj, x -> x*x))))"
      s"WITH pr AS (SELECT vec_id, $jlProjListSql AS proj FROM embeddings), " +
        s"c AS (SELECT p.vec_id probe_id, e.vec_id nn_id, round($pcos, 4) psim " +
        "FROM pr p JOIN pr e ON p.vec_id < 5 AND e.vec_id <> p.vec_id), " +
        "top AS (SELECT probe_id, nn_id, psim, row_number() OVER (PARTITION BY probe_id ORDER BY psim DESC, nn_id) rn FROM c) " +
        s"SELECT t.probe_id, t.rn, t.nn_id, t.psim, round($cosSql, 4) AS osim " +
        "FROM top t JOIN embeddings p ON p.vec_id = t.probe_id JOIN embeddings e ON e.vec_id = t.nn_id " +
        "WHERE t.rn <= 3 ORDER BY probe_id, rn"
    },
    // q217: q110's token law per lang; sqrt normalizer in a 1-row CTE;
    // the epochs expression keeps the Spark side's left-to-right order
    "q217_mixture_plan" ->
      ("WITH n AS (SELECT lang, CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens FROM documents GROUP BY 1), " +
        "t AS (SELECT sum(sqrt(n_tokens)) AS z FROM n) " +
        "SELECT lang, n_tokens, round(sqrt(n_tokens) / t.z, 6) AS weight, " +
        s"round($MixBudgetTokens * sqrt(n_tokens) / t.z / n_tokens, 4) AS epochs " +
        "FROM n, t ORDER BY lang"),
    // q218: the jaccardCtes shingle law keyed by source instead of
    // doc_id; distinct (source, shingle) then the bounded pair join
    "q218_source_overlap" ->
      ("WITH sh0 AS (SELECT source, unnest(list_distinct([array_to_string(words[i:i+2],' ') for i in range(1, len(words)-1)])) AS shingle " +
        "FROM (SELECT source, string_split(text,' ') words FROM documents) WHERE len(words) >= 3), " +
        "sh AS (SELECT DISTINCT source, shingle FROM sh0), " +
        "cnt AS (SELECT source, count(*) AS n FROM sh GROUP BY 1), " +
        "p AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source GROUP BY 1, 2) " +
        "SELECT p.src_a, p.src_b, p.shared, round(p.shared * 1.0 / least(ca.n, cb.n), 4) AS containment " +
        "FROM p JOIN cnt ca ON p.src_a = ca.source JOIN cnt cb ON p.src_b = cb.source " +
        "ORDER BY src_a, src_b"),
    // q219: same spine + IGNORE NULLS frame; epoch_us hour arithmetic
    "q219_locf_fill" ->
      ("WITH a AS (SELECT epoch_us(ts) // 3600000000 AS hour, event_type, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents FROM events GROUP BY 1, 2), " +
        "sp AS (SELECT h.hour, t.event_type FROM (SELECT DISTINCT hour FROM a) h CROSS JOIN (SELECT DISTINCT event_type FROM a) t), " +
        "j AS (SELECT sp.hour, sp.event_type, a.cents FROM sp LEFT JOIN a ON sp.hour = a.hour AND sp.event_type = a.event_type) " +
        "SELECT hour, event_type, cents, " +
        "coalesce(last_value(cents IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS filled_cents, " +
        "cents IS NULL AS was_gap " +
        "FROM j ORDER BY event_type, hour"),
    // q221: the detail view's six sections UNIONed in the same tall
    // schema; every section recomputes from the digest-filtered wide
    // CTE exactly as the operator does (profile aggregates, hour
    // buckets via the epoch_us div rule, example/drill-down ranks on
    // the shared (value desc, label) tiebreaks)
    "q221_digest_detail" ->
      (s"WITH $qanWideSql, " +
        "w AS (SELECT * FROM wide WHERE digest = 'view'), " +
        "p AS (SELECT count(*) AS cnt, CAST(sum(greatest(rate_limit,1)) AS BIGINT) AS cs, " +
        "round(sum(query_time),4) AS tt, round(avg(query_time),4) AS av, " +
        "count(DISTINCT \"user\") AS nu FROM w), " +
        "a AS (SELECT count(*) AS cnt, " +
        "count(*) FILTER (query_time <= 50.0) AS sat, " +
        "count(*) FILTER (query_time > 50.0 AND query_time <= 200.0) AS tol FROM w) " +
        "SELECT 'profile' AS section, 1 AS ord, 'cnt' AS label, CAST(cnt AS DOUBLE) AS value FROM p " +
        "UNION ALL SELECT 'profile', 2, 'cnt_scaled', CAST(cs AS DOUBLE) FROM p " +
        "UNION ALL SELECT 'profile', 3, 'total_time', tt FROM p " +
        "UNION ALL SELECT 'profile', 4, 'avg_time', av FROM p " +
        "UNION ALL SELECT 'profile', 5, 'n_users', CAST(nu AS DOUBLE) FROM p " +
        "UNION ALL SELECT 'sparkline', epoch_us(ts)//3600000000, " +
        "strftime(make_timestamp((epoch_us(ts)//3600000000)*3600000000), '%Y-%m-%d %H:00'), " +
        "round(sum(query_time * greatest(rate_limit,1)),4) FROM w GROUP BY 2,3 " +
        "UNION ALL SELECT 'examples', row_number() OVER (ORDER BY query_time DESC, ts, \"offset\"), " +
        "query, round(query_time,4) FROM (SELECT * FROM w ORDER BY query_time DESC, ts, \"offset\" LIMIT 3) " +
        "UNION ALL SELECT 'apdex', 1, 'satisfied', CAST(sat AS DOUBLE) FROM a " +
        "UNION ALL SELECT 'apdex', 2, 'tolerating', CAST(tol AS DOUBLE) FROM a " +
        "UNION ALL SELECT 'apdex', 3, 'frustrated', CAST(cnt - sat - tol AS DOUBLE) FROM a " +
        "UNION ALL SELECT 'apdex', 4, 'apdex', round((sat + tol/2.0)/cnt, 4) FROM a " +
        "UNION ALL SELECT 'users', row_number() OVER (ORDER BY value DESC, label), label, value " +
        "FROM (SELECT \"user\" AS label, round(sum(query_time*greatest(rate_limit,1)),4) AS value FROM w GROUP BY 1 ORDER BY value DESC, label LIMIT 5) " +
        "UNION ALL SELECT 'schemas', row_number() OVER (ORDER BY value DESC, label), label, value " +
        "FROM (SELECT db AS label, round(sum(query_time*greatest(rate_limit,1)),4) AS value FROM w GROUP BY 1 ORDER BY value DESC, label LIMIT 5) " +
        "ORDER BY section, ord, label"),

    // q222: per-doc gram counts via DuckDB list comprehensions (the
    // q103 splitter), the flag as the same integer cross-mults; every
    // doc has >= 3 tokens at every SF so the gram joins keep all rows
    "q222_repetition" ->
      ("WITH words AS (SELECT doc_id, string_split(text,' ') ws FROM documents), " +
        "bg AS (SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS g FROM words), " +
        "bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2), " +
        "bstat AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n_bigrams, CAST(max(c) AS BIGINT) top_bigram_c FROM bgc GROUP BY 1), " +
        "tg AS (SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS g FROM words), " +
        "tgc AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2), " +
        "tstat AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n_trigrams, CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) dup_tri_inst FROM tgc GROUP BY 1) " +
        "SELECT d.doc_id, n_bigrams, top_bigram_c, n_trigrams, dup_tri_inst, " +
        "(10*top_bigram_c > n_bigrams OR dup_tri_inst > 0) AS flagged " +
        "FROM documents d JOIN bstat USING (doc_id) JOIN tstat USING (doc_id) " +
        "ORDER BY doc_id"),

    // q223: smoothed unigram LM ratio sums with the normalizer folded
    // in as count(*)·ln(const); the heavy flag cross-multiplied in
    // integers; ONE rounding site after the per-doc aggregate (q103)
    "q223_dsir" ->
      ("WITH words AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS w FROM documents), " +
        "ct AS (SELECT w, count(*) c FROM words WHERE lang = 'en' GROUP BY 1), " +
        "cs AS (SELECT w, count(*) c FROM words GROUP BY 1), " +
        "tot AS (SELECT (SELECT count(*) FROM words WHERE lang = 'en') nt, (SELECT count(*) FROM words) ns, (SELECT count(DISTINCT w) FROM words) v) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks, " +
        "CAST(sum(CASE WHEN (coalesce(ct.c,0)+1)*(ns+v) > (cs.c+1)*(nt+v) THEN 1 ELSE 0 END) AS BIGINT) AS n_target_heavy, " +
        "round(sum(ln((coalesce(ct.c,0)+1.0)/(cs.c+1.0))) + count(*)*ln((ns+v)*1.0/(nt+v)), 4) + 0.0 AS log_weight " +
        "FROM words LEFT JOIN ct USING (w) JOIN cs USING (w) CROSS JOIN tot " +
        "GROUP BY doc_id, nt, ns, v ORDER BY doc_id"),

    // q224: centroid = per-(label, dim) lower discrete median over the
    // even-id half (row_number selection — exact float elements);
    // assignment = argmax cosine with ties to the smaller label (the
    // Spark side's greatest(struct(cos, -label)) is this row_number
    // rule); ONE rounding site on the per-cell avg
    "q224_centroid_classify" ->
      ("WITH ex AS (SELECT label, vec_id, unnest([{'d': i, 'v': embedding[i]} for i in range(1, len(embedding)+1)], recursive := true) " +
        "FROM embeddings WHERE vec_id % 2 = 0), " +
        "ranked AS (SELECT label, d, v, row_number() OVER (PARTITION BY label, d ORDER BY v, vec_id) rn, count(*) OVER (PARTITION BY label, d) cnt FROM ex), " +
        "cent AS (SELECT label AS c_label, list(v ORDER BY d) AS cvec FROM ranked WHERE rn = (cnt+1) // 2 GROUP BY label), " +
        "scored AS (SELECT e.vec_id, e.label, c.c_label, " +
        "list_sum(list_apply(list_zip(e.embedding, c.cvec), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE))) / " +
        "(sqrt(list_sum(list_apply(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * " +
        "sqrt(list_sum(list_apply(c.cvec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos " +
        "FROM embeddings e CROSS JOIN cent c WHERE e.vec_id % 2 = 1), " +
        "best AS (SELECT vec_id, label, c_label, cos, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_label) rn FROM scored) " +
        "SELECT label, c_label AS assigned, count(*) AS n, round(avg(cos),4)+0.0 AS avg_cos " +
        "FROM best WHERE rn = 1 GROUP BY 1,2 ORDER BY 1,2"),

    // q225: the trigram-index path must reproduce the full scan
    "q225_substring_search" ->
      "SELECT doc_id, lang FROM documents WHERE contains(text, 'scan slow') ORDER BY doc_id",

    // q226: six unrolled peel levels (fixpoint reached at 2, so the
    // extra levels are idempotent); MATERIALIZED is load-bearing (the
    // BPE lesson — each level reads its predecessor three times)
    "q226_kcore" -> {
      val peels = (1 to 6).map { i =>
        s"k$i AS MATERIALIZED (SELECT a FROM e${i - 1} GROUP BY a HAVING count(*) >= 4), " +
          s"e$i AS MATERIALIZED (SELECT x.a, x.b FROM e${i - 1} x " +
          s"JOIN k$i ka ON x.a = ka.a JOIN k$i kb ON x.b = kb.a)"
      }.mkString(", ")
      "WITH p AS (SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey WHERE l_quantity > 45), " +
        "e0 AS MATERIALIZED (SELECT a, b FROM p UNION SELECT b, a FROM p), " + peels +
        " SELECT a AS node, CAST(count(*) AS BIGINT) AS core_degree " +
        "FROM e6 GROUP BY a ORDER BY node"
    },

    // q227: both formats must carry the parquet truth unchanged
    "q227_format_roundtrip" ->
      ("WITH f AS (SELECT lang, CAST(count(*) AS BIGINT) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum, " +
        "CAST(sum(length(text)) AS BIGINT) AS char_sum, CAST(count(DISTINCT text) AS BIGINT) AS n_texts " +
        "FROM documents GROUP BY lang) " +
        "SELECT fmt, lang, n, id_sum, char_sum, n_texts " +
        "FROM f CROSS JOIN (VALUES ('jsonl'), ('csv')) v(fmt) ORDER BY fmt, lang"),

    // q228: same 52-bit md5 weights with the shard id folded into the
    // low 10 bits (distinct by construction for the full nShards=1024
    // range — argmax needs no tie rule); DuckDB's arg_max has no
    // struct ordering, the packed long IS the composite order
    "q228_shard_router" ->
      ("WITH w AS (SELECT doc_id, s, " +
        "CAST(CAST(concat('0x', substr(md5(doc_id || ':' || s), 1, 13)) AS UBIGINT) AS BIGINT) * 1024 + s AS wt " +
        "FROM documents, unnest(range(9)) t(s)), " +
        "a AS (SELECT doc_id, arg_max(s, wt) FILTER (WHERE s < 8) AS shard8, arg_max(s, wt) AS shard9 FROM w GROUP BY doc_id) " +
        "SELECT shard8 AS shard, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN shard9 = shard8 THEN 1 ELSE 0 END) AS BIGINT) AS n_stay, " +
        "CAST(sum(CASE WHEN shard9 <> shard8 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved, " +
        "CAST(sum(CASE WHEN shard9 <> shard8 AND shard9 <> 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_stray " +
        "FROM a GROUP BY shard8 ORDER BY shard8"),

    // q229: identical decomposed suffix injected via chr(769); DuckDB
    // exposes NFC only, which is exactly the form the entry pins
    "q229_unicode_norm" ->
      ("WITH dirty AS (SELECT lang, substr(text,1,24) || 'e' || chr(769) || ' te' || chr(769) || 'le' || chr(769) AS dirty FROM documents) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n, CAST(sum(length(dirty)) AS BIGINT) AS raw_chars, " +
        "CAST(sum(length(nfc_normalize(dirty))) AS BIGINT) AS nfc_chars, " +
        "CAST(sum(CASE WHEN length(dirty) = length(nfc_normalize(dirty)) THEN 0 ELSE 1 END) AS BIGINT) AS n_changed " +
        "FROM dirty GROUP BY lang ORDER BY lang"),

    // q230: the q229 NFC injection + q222 gram stats + q228 HRW argmax
    // composed; flags computed on the NORMALIZED text on both sides
    "q230_prepare_shards" ->
      ("WITH dirty AS (SELECT doc_id, lang, nfc_normalize(text || ' e' || chr(769) || ' te' || chr(769) || 'le' || chr(769)) AS norm FROM documents), " +
        "words AS (SELECT doc_id, string_split(norm,' ') ws FROM dirty), " +
        "bg AS (SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS g FROM words), " +
        "bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1,2), " +
        "bstat AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n_bigrams, CAST(max(c) AS BIGINT) top_bigram_c FROM bgc GROUP BY 1), " +
        "tg AS (SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS g FROM words), " +
        "tgc AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1,2), " +
        "tstat AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n_trigrams, CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) dup_tri_inst FROM tgc GROUP BY 1), " +
        "rep AS (SELECT doc_id, (10*top_bigram_c > n_bigrams OR dup_tri_inst > 0) AS flagged FROM bstat JOIN tstat USING (doc_id)), " +
        "w AS (SELECT doc_id, s, CAST(CAST(concat('0x', substr(md5(doc_id || ':' || s), 1, 14)) AS UBIGINT) AS BIGINT) * 16 + s AS wt FROM dirty, unnest(range(8)) t(s)), " +
        "a AS (SELECT doc_id, arg_max(s, wt) AS shard FROM w GROUP BY doc_id) " +
        "SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged, " +
        "CAST(count(DISTINCT lang) AS BIGINT) AS n_langs, " +
        "CAST(sum(length(norm)) AS BIGINT) AS sum_chars " +
        "FROM dirty JOIN rep USING (doc_id) JOIN a USING (doc_id) " +
        "GROUP BY shard ORDER BY shard"),

    // q231: subvector slices are 1-based inclusive on both engines;
    // the per-(q,d,qs_i) max is selection-exact and the 4-term sum
    // folds in qs_i order (list_sum over an ORDERED list) — one
    // rounding site before the rank
    "q231_maxsim" ->
      ("WITH subs AS (SELECT vec_id, s, embedding[16*s+1 : 16*s+16] AS sv FROM embeddings, unnest(range(4)) t(s)), " +
        "qs AS (SELECT vec_id AS qid, s AS qs_i, sv AS qv FROM subs WHERE vec_id < 3), " +
        "ds AS (SELECT vec_id AS did, s AS ds_i, sv AS dv FROM subs), " +
        "pairc AS (SELECT qid, did, qs_i, " +
        "max(list_sum(list_apply(list_zip(qv, dv), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE))) / " +
        "(sqrt(list_sum(list_apply(qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * " +
        "sqrt(list_sum(list_apply(dv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))) AS best " +
        "FROM qs JOIN ds ON qid <> did GROUP BY qid, did, qs_i), " +
        "score AS (SELECT qid, did, round(list_sum(list(best ORDER BY qs_i)), 4) + 0.0 AS maxsim FROM pairc GROUP BY qid, did), " +
        "ranked AS (SELECT qid, did, maxsim, row_number() OVER (PARTITION BY qid ORDER BY maxsim DESC, did) rn FROM score) " +
        "SELECT qid AS probe_id, CAST(rn AS BIGINT) AS rn, did AS nn_id, maxsim " +
        "FROM ranked WHERE rn <= 3 ORDER BY probe_id, rn"),

    // q220: the augmented table must equal the FULL closure — q67's
    // oracle verbatim (the split is invisible to the fixpoint)
    "q220_cc_augment" ->
      (s"WITH RECURSIVE $dedupClosureCtes " +
        "SELECT node AS doc_id, min(lbl) AS cluster FROM reach GROUP BY node ORDER BY doc_id"),
    // q215: the q67 recursive closure + q110's md5-bucket fold, folded
    // on the CLUSTER; naive/safe leak counts attributed to da's fold
    "q215_leakage_split" ->
      (s"WITH RECURSIVE $dedupClosureCtes, " +
        "cl AS (SELECT node AS doc_id, min(lbl) AS cluster FROM reach GROUP BY node), " +
        "asg AS (SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS cluster FROM documents d LEFT JOIN cl USING (doc_id)), " +
        s"f AS (SELECT doc_id, cluster, CAST(CAST(concat('0x', substr(md5(CAST(cluster AS VARCHAR)),1,4)) AS INTEGER) % $KFolds AS BIGINT) AS fold, " +
        s"CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS INTEGER) % $KFolds AS BIGINT) AS nfold FROM asg), " +
        "nl AS (SELECT fa.nfold AS fold, count(*) AS c FROM pairs p JOIN f fa ON p.da = fa.doc_id JOIN f fb ON p.db = fb.doc_id WHERE fa.nfold <> fb.nfold GROUP BY 1), " +
        "sl AS (SELECT fa.fold AS fold, count(*) AS c FROM pairs p JOIN f fa ON p.da = fa.doc_id JOIN f fb ON p.db = fb.doc_id WHERE fa.fold <> fb.fold GROUP BY 1), " +
        "cen AS (SELECT fold, count(*) AS n_docs, count(DISTINCT cluster) AS n_clusters FROM f GROUP BY 1) " +
        "SELECT cen.fold, cen.n_docs, cen.n_clusters, coalesce(nl.c, 0) AS naive_leaks, coalesce(sl.c, 0) AS safe_leaks " +
        "FROM cen LEFT JOIN nl USING (fold) LEFT JOIN sl USING (fold) ORDER BY fold"),
    "q54_hash_split" -> {
      // CASE generated from Pipeline.SplitThresholds — one source of truth
      val whens = Pipeline.SplitThresholds
        .map { case (name, bound) => s"WHEN h < $bound THEN '$name'" }
        .mkString(" ")
      s"SELECT split, count(*) AS n_docs, CAST(sum(len(string_split(text,' '))) AS BIGINT) AS tokens FROM (SELECT CASE $whens ELSE 'test' END AS split, text FROM (SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS INTEGER) h, text FROM documents) t1) t2 GROUP BY split ORDER BY split"
    },
    "q55_pack_sequences" ->
      "SELECT lang, pack_id, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS pack_tokens FROM (SELECT lang, CAST(floor((run - tok)/2048.0) AS BIGINT) pack_id, tok FROM (SELECT lang, doc_id, len(string_split(text,' ')) tok, sum(len(string_split(text,' '))) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) run FROM documents) t) t2 GROUP BY lang, pack_id ORDER BY lang, pack_id",
    "q57_salted_join" ->
      "SELECT upper(event_type) AS type_tag, count(*) AS cnt, round(sum(value),4) AS sv FROM events GROUP BY 1 ORDER BY 1",
    "q58_pivot" ->
      "SELECT user_id % 10 AS ug, count(*) FILTER (event_type='click') AS click, count(*) FILTER (event_type='error') AS error, count(*) FILTER (event_type='purchase') AS purchase, count(*) FILTER (event_type='signup') AS signup, count(*) FILTER (event_type='view') AS view FROM events GROUP BY 1 ORDER BY 1",
    // transitive closure by recursive CTE over the SAME jaccardCtes pair
    // formulation as q26/q52 (UNION dedups, so the recursion terminates)
    "q67_dedup_clusters" ->
      (s"WITH RECURSIVE $dedupClosureCtes " +
        "SELECT node AS doc_id, min(lbl) AS cluster FROM reach GROUP BY node ORDER BY doc_id"),
    // q84 computes the identical fixpoint by a different algorithm
    // (star alternation vs propagation) — same closure oracle
    "q84_dedup_clusters_star" ->
      (s"WITH RECURSIVE $dedupClosureCtes " +
        "SELECT node AS doc_id, min(lbl) AS cluster FROM reach GROUP BY node ORDER BY doc_id"),
    // two-window trend over the µs-truncated event time (epoch_us rule);
    // integer-floor midpoint on both sides (Spark `div` ≡ DuckDB `//` on
    // non-negative epochs)
    "q85_window_compare" ->
      ("WITH m AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events) " +
        "SELECT event_type, " +
        "round(coalesce(sum(CASE WHEN epoch_us(ts) < (SELECT mid FROM m) THEN value END), 0), 4) AS load_before, " +
        "round(coalesce(sum(CASE WHEN epoch_us(ts) >= (SELECT mid FROM m) THEN value END), 0), 4) AS load_after, " +
        "count(CASE WHEN epoch_us(ts) < (SELECT mid FROM m) THEN 1 END) AS cnt_before, " +
        "count(CASE WHEN epoch_us(ts) >= (SELECT mid FROM m) THEN 1 END) AS cnt_after, " +
        "round(coalesce(sum(CASE WHEN epoch_us(ts) >= (SELECT mid FROM m) THEN value END), 0) - coalesce(sum(CASE WHEN epoch_us(ts) < (SELECT mid FROM m) THEN value END), 0), 4) AS load_delta, " +
        "round(coalesce(sum(CASE WHEN epoch_us(ts) >= (SELECT mid FROM m) THEN value END), 0) / nullif(coalesce(sum(CASE WHEN epoch_us(ts) < (SELECT mid FROM m) THEN value END), 0), 0), 4) AS load_ratio " +
        "FROM events GROUP BY event_type ORDER BY load_delta DESC, event_type"),
    // the same md5-hex permutation replayed in SQL (seed 7, epoch head)
    "q86_epoch_shuffle" ->
      ("SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':7') AS shuffle_key, lang " +
        "FROM documents ORDER BY shuffle_key, doc_id LIMIT 100"),
    // Apdex from the same shared threshold constant; the score is the
    // identical (satisfied + tolerating/2) / cnt double on both sides
    "q87_apdex" -> {
      val t = ApdexT
      val sat = s"count(CASE WHEN value <= $t THEN 1 END)"
      val tol = s"count(CASE WHEN value > $t AND value <= ${4 * t} THEN 1 END)"
      s"SELECT event_type, count(*) AS cnt, $sat AS satisfied, $tol AS tolerating, " +
        s"round(($sat + $tol / 2.0) / count(*), 4) AS apdex " +
        "FROM events GROUP BY event_type ORDER BY apdex, event_type"
    },
    // The QAN report trio over the shared wide projection (qanWideSql ==
    // qanWide, adjacent definitions). The example row's tiebreak string
    // encodes (query_time, ts, offset) exactly like profile's max_by
    // struct: values are 2-dp by construction, so the 4-dp key cannot
    // collide where the doubles differ. quantile_disc = element at rank
    // ceil(p*n), the same element percentile_approx returns when the
    // group fits inside its accuracy budget (10k).
    "q94_qan_profile" -> {
      val tie = "printf('%020.4f|%020d|%012d', query_time + 1e9, epoch_us(ts), \"offset\")"
      s"WITH $qanWideSql SELECT digest, min(fingerprint) AS fingerprint, " +
        "count(*) AS cnt, CAST(sum(greatest(rate_limit, 1)) AS BIGINT) AS cnt_scaled, " +
        "round(sum(query_time), 4) AS total_time, " +
        "round(sum(query_time * greatest(rate_limit, 1)), 4) AS total_time_scaled, " +
        "round(avg(query_time), 4) AS avg_time, " +
        "round(stddev_pop(query_time), 4) AS stddev_time, " +
        "round(var_pop(query_time) / avg(query_time), 4) AS vm_ratio, " +
        "quantile_disc(query_time, 0.95) AS p95_time, " +
        "CAST(sum(rows_examined) AS BIGINT) AS rows_examined, " +
        "CAST(sum(rows_sent) AS BIGINT) AS rows_sent, " +
        "CAST(count(DISTINCT \"user\") AS BIGINT) AS n_users, " +
        "min(ts) AS first_seen, max(ts) AS last_seen, " +
        s"arg_max(query, $tie) AS example_query, " +
        s"arg_max(ts, $tie) AS example_ts " +
        "FROM wide GROUP BY digest ORDER BY digest"
    },
    "q95_qan_sparkline" ->
      (s"WITH $qanWideSql SELECT date_trunc('hour', ts) AS bucket, digest, " +
        "count(*) AS cnt, CAST(sum(greatest(rate_limit, 1)) AS BIGINT) AS cnt_scaled, " +
        "round(sum(query_time), 4) AS total_time, " +
        "round(sum(query_time * greatest(rate_limit, 1)), 4) AS total_time_scaled " +
        "FROM wide GROUP BY 1, 2 ORDER BY bucket, digest"),
    "q96_qan_load" ->
      (s"WITH $qanWideSql SELECT db, \"user\", " +
        "count(*) AS cnt, CAST(sum(greatest(rate_limit, 1)) AS BIGINT) AS cnt_scaled, " +
        "round(sum(query_time), 4) AS total_time, " +
        "round(sum(query_time * greatest(rate_limit, 1)), 4) AS total_time_scaled " +
        "FROM wide GROUP BY ROLLUP (db, \"user\") " +
        "ORDER BY db ASC NULLS FIRST, \"user\" ASC NULLS FIRST"),
    "q97_range_join" ->
      ("WITH bands AS (SELECT i AS band_id, i*25.0 AS lo, i*25.0+30.0 AS hi FROM range(0,9) t(i)) " +
        "SELECT band_id, count(*) AS cnt, round(sum(value),4) AS sv " +
        "FROM events e JOIN bands b ON e.value >= b.lo AND e.value <= b.hi " +
        "GROUP BY band_id ORDER BY band_id"),
    // q98: segmentation → corpus document frequency → per-doc rebuild,
    // the kept text pinned by md5 (string_agg ORDER BY seg_id == Spark's
    // array_sort-by-seg_id concat; both engines skip dropped segments)
    "q98_segment_dedup" ->
      (s"WITH words AS (SELECT doc_id, string_split(text,' ') ws FROM documents), " +
        s"segs AS (SELECT doc_id, r['seg_id'] AS seg_id, r['seg'] AS seg FROM (SELECT doc_id, unnest([{'seg_id': i-1, 'seg': array_to_string(ws[(i-1)*$SegWidth+1:i*$SegWidth], ' ')} for i in range(1, CAST(ceil(len(ws)/$SegWidth.0) AS INT)+1)]) r FROM words) t), " +
        "df AS (SELECT seg, count(DISTINCT doc_id) nd FROM segs GROUP BY 1) " +
        "SELECT s.doc_id, count(*) AS n_seg, " +
        "CAST(sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup, " +
        "CAST(sum(CASE WHEN d.nd <= 1 THEN len(string_split(s.seg,' ')) ELSE 0 END) AS BIGINT) AS kept_tokens, " +
        "md5(coalesce(string_agg(CASE WHEN d.nd <= 1 THEN s.seg END, ' ' ORDER BY s.seg_id), '')) AS kept_md5 " +
        "FROM segs s JOIN df d USING (seg) GROUP BY s.doc_id ORDER BY doc_id"),
    // q99: all span positions (not distinct) → cross-doc document
    // frequency → per-doc duplicated fraction; docs shorter than the
    // span width carry no spans in either engine
    "q99_dup_spans" ->
      (s"WITH words AS (SELECT doc_id, string_split(text,' ') ws FROM documents), " +
        s"sp AS (SELECT doc_id, unnest([array_to_string(ws[i:i+${SpanN - 1}],' ') for i in range(1, len(ws)-${SpanN - 2})]) AS span FROM words WHERE len(ws) >= $SpanN), " +
        "df AS (SELECT span, count(DISTINCT doc_id) nd FROM sp GROUP BY 1) " +
        "SELECT sp.doc_id, count(*) AS n_spans, " +
        "CAST(sum(CASE WHEN df.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans, " +
        "round(CAST(sum(CASE WHEN df.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)/count(*), 4) AS dup_ratio " +
        "FROM sp JOIN df USING (span) GROUP BY sp.doc_id ORDER BY doc_id"),
    // q100: hourly load rounded BEFORE the exact medians (rule 6:
    // quantile_cont == Spark percentile on identical inputs), flag
    // arithmetic over the rounded med/mad on both sides
    "q100_latency_anomaly" ->
      (s"WITH $qanWideSql, " +
        "hourly AS (SELECT digest, date_trunc('hour', ts) AS hr, round(sum(query_time),4) AS ld FROM wide GROUP BY 1, 2), " +
        "med AS (SELECT digest, round(quantile_cont(ld, 0.5),4) AS med FROM hourly GROUP BY 1), " +
        "mad AS (SELECT h.digest, round(quantile_cont(abs(h.ld - m.med), 0.5),4) AS mad FROM hourly h JOIN med m USING (digest) GROUP BY h.digest) " +
        s"SELECT h.digest, h.hr, h.ld AS load, m.med, d.mad, abs(h.ld - m.med) > $AnomalyK * d.mad AS is_anomaly " +
        "FROM hourly h JOIN med m USING (digest) JOIN mad d USING (digest) ORDER BY digest, hr"),
    // q101: stratum census → keep-rate (c_min/c)^(1-α) → 16-bit md5
    // bucket cut (q54's engine-independent hash arithmetic)
    "q101_mixture_resample" ->
      ("WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1), " +
        "m AS (SELECT min(n_docs) AS mn FROM c), " +
        s"t AS (SELECT lang, n_docs, CAST(floor(power(CAST(mn AS DOUBLE)/n_docs, ${1.0 - Pipeline.MixtureAlpha}) * 65536) AS INT) AS thr FROM c, m), " +
        "k AS (SELECT d.lang, count(*) AS kept_docs, CAST(sum(len(string_split(d.text,' '))) AS BIGINT) AS kept_tokens " +
        "FROM documents d JOIN t USING (lang) WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)),1,4)) AS INTEGER) < t.thr GROUP BY 1) " +
        "SELECT t.lang, t.n_docs, coalesce(k.kept_docs, 0) AS kept_docs, coalesce(k.kept_tokens, 0) AS kept_tokens " +
        "FROM t LEFT JOIN k USING (lang) ORDER BY lang"),
    // q102: same (lang, first word) blocks, same prefix, DuckDB's
    // levenshtein is the identical unit-cost DP; the >100 hot-block
    // filter mirrors the Spark cap (vacuous on this corpus)
    "q102_edit_pairs" ->
      (s"WITH b AS (SELECT doc_id, substr(text,1,$EditPrefix) AS k, lang, string_split(text,' ')[1] AS fw FROM documents), " +
        "ok AS (SELECT lang, fw FROM b GROUP BY 1, 2 HAVING count(*) <= 100) " +
        "SELECT a.doc_id AS a_id, c.doc_id AS b_id, CAST(levenshtein(a.k, c.k) AS BIGINT) AS dist " +
        "FROM (SELECT b.* FROM b JOIN ok USING (lang, fw)) a " +
        "JOIN (SELECT b.* FROM b JOIN ok USING (lang, fw)) c USING (lang, fw) " +
        s"WHERE a.doc_id < c.doc_id AND levenshtein(a.k, c.k) <= $EditMaxDist " +
        "ORDER BY a_id, b_id"),
    // q103: bigram instances → (w1,w2) and left-context (w1) counts →
    // per-doc mean log MLE probability, rounded after the aggregate
    "q103_bigram_lm" ->
      ("WITH words AS (SELECT doc_id, string_split(text,' ') ws FROM documents), " +
        "bg AS (SELECT doc_id, r['w1'] AS w1, r['w2'] AS w2 FROM (SELECT doc_id, unnest([{'w1': ws[i], 'w2': ws[i+1]} for i in range(1, len(ws))]) r FROM words WHERE len(ws) >= 2) t), " +
        "c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2), " +
        "c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1) " +
        "SELECT bg.doc_id, count(*) AS n_bigrams, round(avg(ln(c12.c12 * 1.0 / c1.c1)), 4) AS avg_ll " +
        "FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) " +
        "GROUP BY bg.doc_id ORDER BY doc_id"),
    // q104: the oracle's one-reducer row_number IS the thing
    // globalRank replaces — identical total order, identical pairs
    "q104_sorted_neighborhood" ->
      (s"WITH r AS (SELECT doc_id, row_number() OVER (ORDER BY substr(text,1,$SnKeyLen), doc_id) AS rn FROM documents) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, b.rn - a.rn AS gap " +
        s"FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND $SnWindow " +
        "ORDER BY a_id, b_id"),
    // q105: raw closed-interval overlap predicate — the nested-loop
    // semantics the binned ownership join reproduces exactly
    "q105_interval_overlap" ->
      ("WITH ev AS (SELECT event_type, value, CAST(user_id % 8 AS BIGINT) AS k FROM events), " +
        "v AS (SELECT k, value AS v_lo, value + 20.0 AS v_hi FROM ev WHERE event_type = 'view'), " +
        "e AS (SELECT k, value AS e_lo, value + 15.0 AS e_hi FROM ev WHERE event_type = 'error') " +
        "SELECT v.k AS k, count(*) AS n_pairs, round(avg(v.v_lo), 4) AS sv " +
        "FROM v JOIN e ON v.k = e.k AND v.v_lo <= e.e_hi AND e.e_lo <= v.v_hi " +
        "GROUP BY v.k ORDER BY v.k"),
    // q106: exact 5-NN per probe (q39's ranking), neighbor labels,
    // majority vote with the smaller-label tie rule
    "q106_knn_classify" ->
      (s"WITH c AS (SELECT p.vec_id probe_id, e.vec_id nn_id, round($cosSql,4) sim " +
        "FROM embeddings p CROSS JOIN embeddings e WHERE p.vec_id < 20 AND e.vec_id <> p.vec_id), " +
        "nn AS (SELECT probe_id, nn_id FROM (SELECT probe_id, nn_id, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, nn_id) rn FROM c) WHERE rn <= 5), " +
        "v AS (SELECT nn.probe_id, e.label, count(*) AS votes FROM nn JOIN embeddings e ON e.vec_id = nn.nn_id GROUP BY 1, 2) " +
        "SELECT probe_id, label AS pred_label, votes FROM " +
        "(SELECT probe_id, label, votes, row_number() OVER (PARTITION BY probe_id ORDER BY votes DESC, label) vr FROM v) " +
        "WHERE vr = 1 ORDER BY probe_id"),
    // q110: the q54 md5-bucket arithmetic, mod k instead of thresholds
    "q110_kfold" ->
      (s"SELECT CAST(h % $KFolds AS BIGINT) AS fold, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS tokens " +
        "FROM (SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS INTEGER) h, len(string_split(text,' ')) tok FROM documents) t " +
        "GROUP BY 1 ORDER BY fold"),
    // q111: same BM25 shape from the same constants; rank on the
    // 4-dp-rounded sum (one rounding site both engines)
    "q111_bm25" -> {
      val termList = SearchTerms.map(t => s"'$t'").mkString(", ")
      s"WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1), " +
        "st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl), " +
        s"tf AS (SELECT doc_id, token, count(*) AS tf FROM tok WHERE token IN ($termList) GROUP BY 1, 2), " +
        "df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1), " +
        "sc AS (SELECT tf.doc_id, round(sum(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) " +
        s"* tf.tf * ($Bm25K1 + 1) / (tf.tf + $Bm25K1 * (1 - $Bm25B + $Bm25B * dl.dl / st.avgdl))), 4) AS score, " +
        "count(*) AS n_terms FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN st GROUP BY 1) " +
        "SELECT rn, doc_id, score, n_terms FROM " +
        "(SELECT doc_id, score, n_terms, row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM sc) " +
        s"WHERE rn <= $Bm25TopK ORDER BY rn"
    },
    // q196: q111's CTEs + the delimited-LIKE phrase flag folded into
    // the score before ranking (boost on the already-rounded value)
    "q196_phrase_boost" -> {
      val termList = SearchTerms.map(t => s"'$t'").mkString(", ")
      s"WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1), " +
        "st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl), " +
        s"tf AS (SELECT doc_id, token, count(*) AS tf FROM tok WHERE token IN ($termList) GROUP BY 1, 2), " +
        "df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1), " +
        "sc AS (SELECT tf.doc_id, round(sum(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) " +
        s"* tf.tf * ($Bm25K1 + 1) / (tf.tf + $Bm25K1 * (1 - $Bm25B + $Bm25B * dl.dl / st.avgdl))), 4) AS score, " +
        "count(*) AS n_terms FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN st GROUP BY 1), " +
        "ph AS (SELECT doc_id FROM documents WHERE ' '||text||' ' LIKE '% hash join %'), " +
        "bs AS (SELECT sc.doc_id, round(sc.score + CASE WHEN ph.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END, 4) AS score, " +
        "sc.n_terms FROM sc LEFT JOIN ph ON sc.doc_id = ph.doc_id) " +
        "SELECT rn, doc_id, score, n_terms FROM " +
        "(SELECT doc_id, score, n_terms, row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM bs) " +
        s"WHERE rn <= $Bm25TopK ORDER BY rn"
    },
    // q200: q111's scoring CTEs + q192's cosine pairs within the
    // candidate set + the q67 recursive closure, singletons
    // self-clustered; cluster id = min doc in the component
    "q200_diverse_search" -> {
      val termList = SearchTerms.map(t => s"'$t'").mkString(", ")
      s"WITH RECURSIVE tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1), " +
        "st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl), " +
        s"tf AS (SELECT doc_id, token, count(*) AS tf FROM tok WHERE token IN ($termList) GROUP BY 1, 2), " +
        "df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1), " +
        "sc AS (SELECT tf.doc_id, round(sum(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) " +
        s"* tf.tf * ($Bm25K1 + 1) / (tf.tf + $Bm25K1 * (1 - $Bm25B + $Bm25B * dl.dl / st.avgdl))), 4) AS score, " +
        "count(*) AS n_terms FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN st GROUP BY 1), " +
        "cand AS (SELECT doc_id, score FROM (SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM sc) WHERE rn <= 50), " +
        "ctf AS (SELECT tok.doc_id, tok.token AS tk, count(*) AS tf FROM tok JOIN cand USING (doc_id) GROUP BY 1,2), " +
        "n2 AS (SELECT doc_id, sum(tf*tf) AS n2 FROM ctf GROUP BY 1), " +
        "p0 AS (SELECT a.doc_id AS da, b.doc_id AS db, sum(a.tf*b.tf) AS dot FROM ctf a JOIN ctf b ON a.tk=b.tk AND a.doc_id<b.doc_id GROUP BY 1,2), " +
        "prs AS (SELECT da, db FROM p0 JOIN n2 na ON da=na.doc_id JOIN n2 nb ON db=nb.doc_id WHERE dot/sqrt(na.n2*nb.n2) >= 0.9), " +
        "edges AS (SELECT da AS x, db AS y FROM prs UNION ALL SELECT db, da FROM prs), " +
        "reach(node, lbl) AS (SELECT x, x FROM (SELECT DISTINCT x FROM edges) t UNION SELECT e.x, r.lbl FROM edges e JOIN reach r ON e.y = r.node), " +
        "cl AS (SELECT node AS doc_id, min(lbl) AS cluster FROM reach GROUP BY 1), " +
        "wc AS (SELECT cand.doc_id, cand.score, coalesce(cl.cluster, cand.doc_id) AS cluster FROM cand LEFT JOIN cl USING (doc_id)), " +
        "best AS (SELECT doc_id, score, cluster FROM (SELECT wc.*, row_number() OVER (PARTITION BY cluster ORDER BY score DESC, doc_id) AS rr FROM wc) WHERE rr = 1) " +
        "SELECT rn, doc_id, score, cluster FROM (SELECT doc_id, score, cluster, row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM best) WHERE rn <= 10 ORDER BY rn"
    },
    // q197: distinct doc frequency per completion, same tiebreak
    "q197_autocomplete" ->
      ("SELECT tok AS token, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs " +
        "FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents) " +
        "WHERE tok LIKE 's%' GROUP BY 1 ORDER BY n_docs DESC, token LIMIT 10"),
    // q112: distinct postings → count-matching intersection
    "q112_conj_search" -> {
      val termList = SearchTerms.map(t => s"'$t'").mkString(", ")
      s"SELECT doc_id, count(*) AS n_matched FROM " +
        "(SELECT DISTINCT doc_id, token FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)) " +
        s"WHERE token IN ($termList) GROUP BY 1 HAVING count(*) = ${SearchTerms.size} ORDER BY doc_id"
    },
    // q113: min-after-previous CTE chain over epoch-µs (q88's time rule)
    "q113_funnel" -> funnelOracleSql,
    // q252: q113's oracle VERBATIM — the streamed conversion log
    // rolled up from storage equals the batch funnel over an in-order
    // replay (the q92/q242 equality posture)
    "q252_streaming_funnel" -> funnelOracleSql,
    // q114: distinct (user, day) activity joined to min-day cohorts
    "q114_retention" -> retentionOracleSql,
    // q253: q114's oracle VERBATIM — the triangle rebuilt from stored
    // activity partials equals the event-level run
    "q253_retention_rollup" -> retentionOracleSql,
    // q115: lag-flag + running-sum run ids (sum cast: DuckDB sums
    // integers to HUGEINT, Spark to BIGINT), lead() opens valid_to
    "q115_change_intervals" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events), " +
        "f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), " +
        "r AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM f), " +
        "runs AS (SELECT user_id, run AS run_id, min(event_type) AS value, min(us) AS valid_from, count(*) AS n_events FROM r GROUP BY 1, 2) " +
        "SELECT user_id, run_id, value, valid_from, " +
        "lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to, n_events " +
        "FROM runs ORDER BY user_id, run_id"),
    // q116: ordered string_agg over the first-depth ranks
    "q116_top_paths" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events), " +
        "r AS (SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn FROM e), " +
        s"p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path FROM r WHERE rn <= $PathDepth GROUP BY 1) " +
        "SELECT path, count(*) AS n_entities FROM p GROUP BY 1 " +
        s"ORDER BY n_entities DESC, path LIMIT $PathTopK"),
    // q118: the identical contribute-and-sum iterations unrolled as
    // CTEs; (1−d) interpolated from the SAME Scala double both sides
    "q118_pagerank" -> {
      val iters = (1 to PrIters).map { i =>
        s"r$i AS (SELECT n.node, ${1.0 - PrDamping} + $PrDamping * coalesce(c.m, 0) AS rank " +
          s"FROM nodes n LEFT JOIN (SELECT e.dst AS node, sum(r.rank / d.deg) AS m " +
          s"FROM e JOIN r${i - 1} r ON r.node = e.src JOIN deg d ON d.src = e.src GROUP BY 1) c ON c.node = n.node)"
      }.mkString(", ")
      "WITH p AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey), " +
        "e AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1), " +
        s"r0 AS (SELECT node, 1.0 AS rank FROM nodes), $iters " +
        s"SELECT rn, node, rank FROM (SELECT node, round(rank, 4) AS rank, " +
        s"row_number() OVER (ORDER BY round(rank, 4) DESC, node) AS rn FROM r$PrIters) " +
        s"WHERE rn <= $PrTopK ORDER BY rn"
    },
    // q119: lag gap per entity over epoch-µs, null stats preserved;
    // the mean gap is INTEGER µs (exact sum // count — any 4-dp float
    // formulation flips at a half boundary at these magnitudes)
    "q119_event_gaps" ->
      ("SELECT user_id, count(*) AS n_events, count(g) AS n_gaps, " +
        "CASE WHEN count(g) > 0 THEN CAST(sum(g) // count(g) AS BIGINT) END AS avg_gap, " +
        "min(g) AS min_gap, max(g) AS max_gap " +
        "FROM (SELECT user_id, epoch_us(ts) - lag(epoch_us(ts)) OVER " +
        "(PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS g FROM events) t " +
        "GROUP BY 1 ORDER BY user_id"),
    // q120: q113's chain with the conversion-window bound on each hop
    "q120_funnel_window" -> {
      val Seq(s1, s2, s3) = FunnelStages
      "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events), " +
        s"f1 AS (SELECT user_id, min(us) AS t FROM e WHERE event_type = '$s1' GROUP BY 1), " +
        s"f2 AS (SELECT e.user_id, min(us) AS t FROM e JOIN f1 USING (user_id) WHERE event_type = '$s2' AND us > f1.t AND us <= f1.t + $FunnelGapUs GROUP BY 1), " +
        s"f3 AS (SELECT e.user_id, min(us) AS t FROM e JOIN f2 USING (user_id) WHERE event_type = '$s3' AND us > f2.t AND us <= f2.t + $FunnelGapUs GROUP BY 1) " +
        s"SELECT * FROM (SELECT CAST(1 AS BIGINT) AS stage_ord, '$s1' AS stage, (SELECT count(*) FROM f1) AS n_entities " +
        s"UNION ALL SELECT 2, '$s2', (SELECT count(*) FROM f2) " +
        s"UNION ALL SELECT 3, '$s3', (SELECT count(*) FROM f3)) ORDER BY stage_ord"
    },
    "q131_l2_lsh" -> exactTop3L2FloorSql,
    // q165: the same star, share from the unrounded sum ratio
    "q165_segment_revenue" ->
      ("WITH r AS (SELECT c_mktsegment, sum(l_extendedprice * (1.0 - l_discount)) AS rev, " +
        "count(DISTINCT o_orderkey) AS n_orders FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey GROUP BY 1), " +
        "t AS (SELECT sum(rev) AS tot FROM r) " +
        "SELECT c_mktsegment, n_orders, round(rev / n_orders, 4) AS avg_order_rev, " +
        "round(rev / (SELECT tot FROM t), 4) AS rev_share FROM r ORDER BY 1"),
    // q166: rank on the rounded per-order sum, key tiebreak
    "q166_unshipped_orders" ->
      ("SELECT o_orderkey, round(sum(l_extendedprice*(1.0-l_discount)),4) AS revenue, " +
        "strftime(o_orderdate,'%Y-%m-%d') AS o_date " +
        "FROM lineitem JOIN orders ON l_orderkey=o_orderkey JOIN customer ON o_custkey=c_custkey " +
        "WHERE c_mktsegment='BUILDING' AND o_orderdate < TIMESTAMP '1998-07-01' AND l_shipdate > TIMESTAMP '1998-07-01' " +
        "GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10"),
    // q167: average-based (the raw sum's accumulation error crosses 4dp)
    "q167_forecast_revenue" ->
      ("SELECT count(*) AS n_items, round(avg(l_extendedprice*l_discount),4) AS avg_disc_rev FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' " +
        "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"),
    // q168: ratio of two sums over the same rows — error divides out
    "q168_promo_share" ->
      ("SELECT count(*) AS n_items, round(100.0 * sum(CASE WHEN p_type='PROMO' THEN l_extendedprice*(1.0-l_discount) ELSE 0.0 END) " +
        "/ sum(l_extendedprice*(1.0-l_discount)), 4) AS promo_share " +
        "FROM lineitem JOIN part ON l_partkey=p_partkey " +
        "WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'"),
    // q169: rank on the rounded per-customer sum, key tiebreak
    "q169_returned_revenue" ->
      ("SELECT c_custkey, c_name, round(sum(l_extendedprice*(1.0-l_discount)),4) AS lost_revenue, " +
        "CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders " +
        "FROM lineitem JOIN orders ON l_orderkey=o_orderkey JOIN customer ON o_custkey=c_custkey " +
        "WHERE l_returnflag='R' GROUP BY 1,2 ORDER BY lost_revenue DESC, c_custkey LIMIT 20"),
    // q170: OR of conjunction groups spanning both join sides
    "q170_brand_quantity" ->
      ("SELECT count(*) AS n_items, round(avg(l_extendedprice*(1.0-l_discount)),4) AS avg_rev " +
        "FROM lineitem JOIN part ON l_partkey=p_partkey " +
        "WHERE (p_brand='Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11) " +
        "OR (p_brand='Brand#19' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20) " +
        "OR (p_brand='Brand#23' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)"),
    // q171: HAVING pre-aggregation, exact integer quantity rank
    "q171_big_orders" ->
      ("SELECT c_custkey, c_name, o_orderkey, strftime(o_orderdate,'%Y-%m-%d') AS o_date, CAST(q AS BIGINT) AS total_qty " +
        "FROM (SELECT l_orderkey, sum(l_quantity) AS q FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250) b " +
        "JOIN orders ON o_orderkey = l_orderkey JOIN customer ON o_custkey = c_custkey " +
        "ORDER BY total_qty DESC, o_orderkey LIMIT 20"),
    // q172: Q21's exists/not-exists as exact count predicates over one
    // shared late-pair frame
    "q172_sole_late_supplier" ->
      ("WITH late AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem JOIN orders ON l_orderkey=o_orderkey WHERE l_shipdate > o_orderdate), " +
        "multi AS (SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING count(DISTINCT l_suppkey) >= 2), " +
        "solo AS (SELECT l_orderkey FROM late GROUP BY 1 HAVING count(*) = 1) " +
        "SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_waits FROM late " +
        "JOIN multi USING (l_orderkey) JOIN solo USING (l_orderkey) " +
        "GROUP BY 1 ORDER BY n_waits DESC, l_suppkey LIMIT 20"),
    // q173: unit prices rounded BEFORE the min; winners by 4-dp equality
    "q173_min_cost_supplier" ->
      ("WITH eu AS (SELECT s_suppkey, s_name FROM supplier JOIN nation ON s_nationkey=n_nationkey " +
        "JOIN region ON n_regionkey=r_regionkey WHERE r_name='EUROPE'), " +
        "offer AS (SELECT p_partkey, p_name, l_suppkey, s_suppkey, s_name, " +
        "min(round(l_extendedprice / l_quantity, 4)) AS unit_price " +
        "FROM lineitem JOIN part ON l_partkey=p_partkey JOIN eu ON l_suppkey=s_suppkey " +
        "WHERE p_size <= 10 AND p_type='STANDARD' GROUP BY 1,2,3,4,5), " +
        "best AS (SELECT p_partkey AS bp, min(unit_price) AS b FROM offer GROUP BY 1) " +
        "SELECT p_partkey, p_name, s_suppkey, s_name, unit_price FROM offer " +
        "JOIN best ON p_partkey = bp AND unit_price = b " +
        "ORDER BY unit_price, p_partkey, s_suppkey LIMIT 25"),
    // q174: both directions of one nation pair; average revenue
    "q174_nation_volume" ->
      ("SELECT sn, cn, yr, count(*) AS n_items, round(avg(l_extendedprice*(1.0-l_discount)),4) AS avg_rev " +
        "FROM (SELECT ns.n_name AS sn, nc.n_name AS cn, CAST(year(l_shipdate) AS BIGINT) AS yr, " +
        "l_extendedprice, l_discount FROM lineitem " +
        "JOIN orders ON l_orderkey=o_orderkey JOIN customer ON o_custkey=c_custkey " +
        "JOIN supplier ON l_suppkey=s_suppkey " +
        "JOIN nation ns ON s_nationkey=ns.n_nationkey JOIN nation nc ON c_nationkey=nc.n_nationkey " +
        "WHERE (ns.n_name='NATION_1' AND nc.n_name='NATION_2') " +
        "OR (ns.n_name='NATION_2' AND nc.n_name='NATION_1')) t " +
        "GROUP BY 1,2,3 ORDER BY 1,2,3"),
    // q175: share as a ratio of sums over the same rows
    "q175_market_share" ->
      ("SELECT yr, count(*) AS n_items, " +
        "round(sum(CASE WHEN sn='NATION_5' THEN rev ELSE 0 END)/sum(rev),4) AS mkt_share " +
        "FROM (SELECT CAST(year(l_shipdate) AS BIGINT) AS yr, ns.n_name AS sn, " +
        "l_extendedprice*(1.0-l_discount) AS rev FROM lineitem " +
        "JOIN part ON l_partkey=p_partkey " +
        "JOIN orders ON l_orderkey=o_orderkey JOIN customer ON o_custkey=c_custkey " +
        "JOIN nation nc ON c_nationkey=nc.n_nationkey JOIN region ON nc.n_regionkey=r_regionkey " +
        "JOIN supplier ON l_suppkey=s_suppkey JOIN nation ns ON s_nationkey=ns.n_nationkey " +
        "WHERE r_name='AMERICA' AND p_type='ECONOMY') t GROUP BY 1 ORDER BY 1"),
    // q176: retail-price cost leg; average profit in exact
    // 1e-4-dollar integer units, one double division per group (the
    // q105 rule — raw double avg flips 4-dp half boundaries)
    "q176_product_profit" ->
      ("SELECT sn, yr, count(*) AS n_items, " +
        "round(CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)*(100 - CAST(round(l_discount*100) AS BIGINT)) " +
        "- 60*CAST(round(p_retailprice*100) AS BIGINT)*CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) / 10000.0, 4) AS avg_profit " +
        "FROM (SELECT ns.n_name AS sn, CAST(year(o_orderdate) AS BIGINT) AS yr, " +
        "l_extendedprice, l_discount, p_retailprice, l_quantity FROM lineitem " +
        "JOIN part ON l_partkey=p_partkey JOIN orders ON l_orderkey=o_orderkey " +
        "JOIN supplier ON l_suppkey=s_suppkey JOIN nation ns ON s_nationkey=ns.n_nationkey " +
        "WHERE p_name LIKE '%widget%') t GROUP BY 1,2 ORDER BY 1,2"),
    // q177: rounded per-part values vs a rounded scalar threshold
    "q177_important_parts" ->
      ("WITH v AS (SELECT l_partkey, round(sum(l_extendedprice*(1.0-l_discount)),4) AS val " +
        "FROM lineitem JOIN supplier ON l_suppkey=s_suppkey JOIN nation ON s_nationkey=n_nationkey " +
        "WHERE n_name='NATION_3' GROUP BY 1) " +
        "SELECT l_partkey, val FROM v WHERE val > (SELECT round(avg(val)*3.0,4) FROM v) " +
        "ORDER BY val DESC, l_partkey"),
    // q178: conditional integer counts over the late-join
    "q178_late_priority" ->
      ("SELECT l_returnflag, count(*) AS n_late, " +
        "CAST(count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS BIGINT) AS high_line, " +
        "CAST(count(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END) AS BIGINT) AS low_line " +
        "FROM lineitem JOIN orders ON l_orderkey=o_orderkey " +
        "WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY GROUP BY 1 ORDER BY 1"),
    // q179: status predicate inside the LEFT join condition
    "q179_order_distribution" ->
      ("SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM " +
        "(SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count " +
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus <> 'P' " +
        "GROUP BY 1) t GROUP BY 1 ORDER BY custdist DESC, c_count DESC"),
    // q180: rounded revenue equality against the scalar max
    "q180_top_supplier" ->
      ("WITH r AS (SELECT l_suppkey, round(sum(l_extendedprice*(1.0-l_discount)),4) AS total_rev " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01' " +
        "GROUP BY 1) " +
        "SELECT s_suppkey, s_name, total_rev FROM r JOIN supplier ON l_suppkey=s_suppkey " +
        "WHERE total_rev = (SELECT max(total_rev) FROM r) ORDER BY s_suppkey"),
    // q181: NOT-IN complaint set as anti-join; exact distinct counts
    "q181_supplier_census" ->
      ("SELECT p_brand, p_type, sz, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt " +
        "FROM (SELECT p_brand, p_type, p_size // 10 AS sz, l_suppkey " +
        "FROM lineitem JOIN part ON l_partkey=p_partkey WHERE p_brand <> 'Brand#13' " +
        "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)) t " +
        "GROUP BY 1,2,3 ORDER BY supplier_cnt DESC, p_brand, p_type, sz LIMIT 30"),
    // q182: exact correlated average (integral quantities)
    "q182_small_quantity" ->
      ("WITH a AS (SELECT l_partkey AS ap, avg(l_quantity) AS aq FROM lineitem GROUP BY 1) " +
        "SELECT count(*) AS n_items, round(avg(l_extendedprice),4) AS avg_price " +
        "FROM lineitem JOIN part ON l_partkey=p_partkey JOIN a ON l_partkey=ap " +
        "WHERE p_type='SMALL' AND l_quantity < 0.5*aq"),
    // q183: HAVING pre-aggregation feeding the dimension joins
    "q183_part_volume_suppliers" ->
      ("WITH hv AS (SELECT l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS qty " +
        "FROM lineitem JOIN part ON l_partkey=p_partkey " +
        "WHERE p_name LIKE 'red%' AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' " +
        "GROUP BY 1 HAVING sum(l_quantity) > 180) " +
        "SELECT s_suppkey, s_name, n_name, qty FROM hv JOIN supplier ON l_suppkey=s_suppkey " +
        "JOIN nation ON s_nationkey=n_nationkey ORDER BY s_suppkey"),
    // q184: rounded scalar-average threshold + dated anti-join
    "q184_lapsed_customers" ->
      ("WITH t AS (SELECT round(avg(c_acctbal),4) AS thr FROM customer WHERE c_acctbal > 0) " +
        "SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust, round(avg(c_acctbal),4) AS avg_bal " +
        "FROM customer JOIN nation ON c_nationkey=n_nationkey " +
        "WHERE c_acctbal > (SELECT thr FROM t) " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01') " +
        "GROUP BY 1 ORDER BY 1"),
    // q185: the BPE iteration unrolled as a generated CTE chain
    "q185_bpe_merges" -> Bpe.mergeTableSql(8),
    // q249: the q185 chain trained on the even half, stored merges
    // replayed as chained replaces over the odd half's word counts
    "q249_bpe_apply" -> Bpe.applyStatsSql(8,
      "(SELECT text FROM documents WHERE doc_id % 2 = 0)",
      "(SELECT lang, text FROM documents WHERE doc_id % 2 = 1)", "lang"),
    // q250: the three entries' generated statements nested as CTEs —
    // the scorecard is pure exact-integer joins over them
    "q250_model_serving" ->
      (s"WITH nbres AS ($nbClassifyOracleSql), " +
        s"bperes AS (${Bpe.applyStatsSql(8,
          "(SELECT text FROM documents WHERE doc_id % 2 = 0)",
          "(SELECT lang, text FROM documents WHERE doc_id % 2 = 1)",
          "lang")}), " +
        s"centres AS ($kmedAssignOracleSql), " +
        "nbagg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS nb_correct " +
        "FROM nbres GROUP BY 1), " +
        "centagg AS (SELECT d.lang, CAST(count(*) AS BIGINT) AS n_embedded, " +
        "CAST(count(DISTINCT c.cluster) AS BIGINT) AS n_clusters " +
        "FROM centres c JOIN documents d ON c.vec_id = d.doc_id GROUP BY 1) " +
        "SELECT n.lang, n.n_docs, n.nb_correct, b.n_words, b.n_tokens, " +
        "b.n_whole, g.n_embedded, g.n_clusters " +
        "FROM nbagg n JOIN bperes b ON n.lang = b.lang " +
        "JOIN centagg g ON n.lang = g.lang ORDER BY n.lang"),
    // q251: batch admission replayed declaratively — within-batch
    // closure over the odd docs (the q67 recursive CTEs on the odd
    // source), drop non-representatives (node <> min-lbl), then drop
    // reps with exact 3-gram Jaccard >= 0.6 against ANY even (indexed)
    // doc; short docs (< 3 words) never enter the CTEs and are
    // admitted by contract on both engines
    "q251_batch_admission" ->
      (s"WITH RECURSIVE ${dedupClosureCtesFrom(
          "(SELECT * FROM documents WHERE doc_id % 2 = 1)")}, " +
        "nonrep AS (SELECT node FROM (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node) t WHERE node <> lbl), " +
        "doce AS (SELECT doc_id, string_split(text,' ') words FROM documents WHERE doc_id % 2 = 0), " +
        "she AS (SELECT doc_id, unnest(list_distinct([array_to_string(words[i:i+2],' ') for i in range(1, len(words)-1)])) AS shingle FROM doce WHERE len(words) >= 3), " +
        "cnte AS (SELECT doc_id, count(*) n FROM she GROUP BY 1), " +
        "x0 AS (SELECT a.doc_id od, b.doc_id ed, count(*) overlap FROM sh a JOIN she b ON a.shingle = b.shingle GROUP BY 1, 2), " +
        "matched AS (SELECT DISTINCT od FROM x0 JOIN cnt co ON od = co.doc_id JOIN cnte ce ON ed = ce.doc_id WHERE overlap*1.0/(co.n+ce.n-overlap) >= 0.6) " +
        "SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 1 " +
        "AND doc_id NOT IN (SELECT node FROM nonrep) " +
        "AND doc_id NOT IN (SELECT od FROM matched) ORDER BY doc_id"),
    // q254: the winnowing selection replayed — positional grams, the
    // same 40-bit md5-prefix hash (q228's hex parse), the same
    // hash·2^20 + (2^20−1−pos) pack, window min over full windows,
    // distinct, per-doc scorecard. Constants interpolated from the
    // shared WinnowK/WinnowW/pack layout
    "q254_winnowing" ->
      (s"WITH docs AS (SELECT doc_id, string_split(text,' ') words FROM documents), " +
        s"g AS (SELECT doc_id, unnest([{'pos': i-1, 'gram': array_to_string(words[i:i+${WinnowK - 1}],' ')} for i in range(1, len(words)-${WinnowK - 1}+1)], recursive := true) FROM docs WHERE len(words) >= $WinnowK), " +
        "p AS (SELECT doc_id, pos, CAST(CAST(concat('0x', substr(md5(gram),1,10)) AS UBIGINT) AS BIGINT)*1048576 + (1048575 - pos) AS pack FROM g), " +
        s"sw AS (SELECT doc_id, pos, min(pack) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS sel FROM p), " +
        s"sel AS (SELECT DISTINCT doc_id, sel FROM sw WHERE pos >= ${WinnowW - 1}) " +
        "SELECT doc_id, count(*) AS n_selected, " +
        "CAST(count(DISTINCT sel // 1048576) AS BIGINT) AS n_hashes, " +
        "min(sel) AS min_fp, max(sel) AS max_fp " +
        "FROM sel GROUP BY doc_id ORDER BY doc_id"),
    // q255: the q254 chain + per-doc distinct hash sets, df screen,
    // self-join on shared hashes, pair threshold
    "q255_winnow_pairs" -> winnowPairsOracleSql,
    // q256: q255's oracle VERBATIM — pairs from the stored bucketed
    // selection (save + blind append) equal the direct run
    "q256_winnow_stored" -> winnowPairsOracleSql,
    // q258: the merged-schema aggregate computed directly from the
    // documents table (the generations are deterministic slices; the
    // old generation's absent column is NULL — count/sum skip it on
    // both engines)
    "q258_schema_evolution" ->
      ("SELECT lang, count(*) AS cnt, " +
        "count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_with, " +
        "CAST(sum(CASE WHEN doc_id % 2 = 1 THEN length(text) END) AS BIGINT) AS sum_chars " +
        "FROM documents GROUP BY lang ORDER BY lang"),
    // q266: clean + dirty generation and the canonicalization chain
    // replayed in SQL — regexp_replace needs the explicit 'g' flag
    // (Spark replaces all matches by default, DuckDB only the first)
    "q266_url_canonical" ->
      ("WITH b AS (SELECT doc_id, lang, CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS UBIGINT) AS BIGINT) AS h FROM documents), " +
        "parts AS (SELECT doc_id, lang, h, " +
        "['www.','news.','blog.',''][h % 4 + 1] || 'site' || CAST(h % 5 AS VARCHAR) || '.' || " +
        "['com','org','net','io','de','co.uk','com.au','ac.uk','edu.au'][h % 9 + 1] AS host, " +
        "CASE WHEN h % 11 = 0 THEN ':8080' ELSE '' END AS port, " +
        "'/p/' || CAST(doc_id % 100 AS VARCHAR) AS pth, " +
        "CASE WHEN h % 3 = 0 THEN '?q=' || lang ELSE '' END AS qs FROM b), " +
        "u AS (SELECT doc_id, h % 7 AS m, 'https://' || host || port || pth || qs AS url, host, port, pth, qs, " +
        "CASE WHEN qs = '' THEN '?utm_source=news&utm_medium=email' ELSE '&utm_source=news&utm_medium=email' END AS utm FROM parts), " +
        "d0 AS (SELECT doc_id, url, CASE " +
        "WHEN m = 0 THEN 'https://' || upper(host) || port || pth || qs " +
        "WHEN m = 1 THEN url || utm " +
        "WHEN m = 2 THEN url || '#sec2' " +
        "WHEN m = 3 THEN (CASE WHEN port = '' THEN 'https://' || host || ':443' || pth || qs ELSE url END) " +
        "WHEN m = 4 THEN url || (CASE WHEN qs = '' THEN '?utm_source=news' ELSE '&utm_source=news' END) || '#frag' " +
        "WHEN m = 5 THEN url || (CASE WHEN qs = '' THEN '?myfbclid=keep&xutm_source=keep' ELSE '&myfbclid=keep&xutm_source=keep' END) " +
        "ELSE url END AS dirty FROM u), " +
        "c1 AS (SELECT doc_id, url, dirty, " +
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(dirty, '#.*', '', 'g'), " +
        "'([?&])(?:utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*', '\\1', 'g'), " +
        "'([?&])&+', '\\1', 'g'), '[?&]+$', '', 'g') AS u3 FROM d0), " +
        "c2 AS (SELECT doc_id, url, dirty, " +
        "lower(regexp_replace(regexp_extract(u3, '^[A-Za-z]+://[^/?#]*'), ':443$', '', 'g')) || " +
        "substr(u3, length(regexp_extract(u3, '^[A-Za-z]+://[^/?#]*')) + 1) AS canon FROM c1) " +
        "SELECT doc_id, dirty, canon, canon = url AS is_clean FROM c2 ORDER BY doc_id"),
    // q267: q82's scorecard keyed by registered domain (urlCtes chain)
    "q267_domain_quality" -> {
      val stopList = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
      val wcS = "(length(text)-length(replace(text,' ',''))+1)"
      val nsS = s"len(list_filter(string_split(text,' '), t -> t IN ($stopList)))"
      val npS = "(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))"
      s"WITH ${urlCtes()}, " +
        s"c AS (SELECT reg_domain, CAST($wcS AS BIGINT) AS wc, " +
        s"CAST($nsS AS BIGINT) AS ns, CAST($npS AS BIGINT) AS np, " +
        "CAST(length(text) AS BIGINT) AS len FROM pr), " +
        "si AS (SELECT reg_domain, (20000 * (400*ns*len + 300*(len-np)*wc + " +
        "3*least(100, wc)*wc*len) + 1000*wc*len) // (2 * 1000*wc*len) AS s FROM c) " +
        "SELECT reg_domain, count(*) AS n_docs, " +
        "round(CAST(sum(s) AS DOUBLE) / (10000.0 * count(*)), 4) AS avg_score, " +
        "CAST(sum(CASE WHEN s >= 6000 THEN 1 ELSE 0 END) AS BIGINT) AS n_high " +
        "FROM si GROUP BY reg_domain ORDER BY reg_domain"
    },
    // q265: the recipe replayed declaratively — exact-dedup keeps,
    // q67's recursive closure over the survivors, the cap rank, three
    // per-domain rollups stitched left
    "q265_curation_recipe" ->
      (s"WITH RECURSIVE ${urlCtes()}, " +
        s"prb AS (SELECT * FROM pr WHERE reg_domain NOT IN (${
          BlockedDomains.map(b => s"'$b'").mkString(", ")})), " +
        "keepx AS (SELECT min(doc_id) AS doc_id FROM prb GROUP BY md5(text)), " +
        "s1 AS (SELECT prb.* FROM prb JOIN keepx USING (doc_id)), " +
        s"${dedupClosureCtesFrom("s1")}, " +
        "nonrep AS (SELECT node FROM (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node) t WHERE node <> lbl), " +
        "s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT node FROM nonrep)), " +
        "rk AS (SELECT doc_id, reg_domain, row_number() OVER (PARTITION BY reg_domain ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM s2), " +
        s"s3 AS (SELECT doc_id, reg_domain FROM rk WHERE rn <= $DomainCapK), " +
        "raw AS (SELECT reg_domain, count(*) AS n_raw FROM prb GROUP BY 1), " +
        "d2 AS (SELECT reg_domain, count(*) AS n_deduped FROM s2 GROUP BY 1), " +
        "d3 AS (SELECT reg_domain, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS kept_id_sum FROM s3 GROUP BY 1) " +
        "SELECT raw.reg_domain, n_raw, coalesce(n_deduped, 0) AS n_deduped, " +
        "coalesce(n_kept, 0) AS n_kept, coalesce(kept_id_sum, 0) AS kept_id_sum " +
        "FROM raw LEFT JOIN d2 USING (reg_domain) LEFT JOIN d3 USING (reg_domain) " +
        "ORDER BY raw.reg_domain"),
    // q264: the admission replayed declaratively — standing counts
    // from the every-10th-doc history, batch rank per domain, quota
    // filter (synthesized URL/domain via the shared urlCtes chain)
    "q264_domain_cap_admission" ->
      (s"WITH ${urlCtes()}, " +
        "used AS (SELECT reg_domain, count(*) AS n FROM pr " +
        "WHERE doc_id % 10 = 0 GROUP BY 1), " +
        "batch AS (SELECT doc_id, lang, reg_domain, row_number() OVER " +
        "(PARTITION BY reg_domain ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk " +
        "FROM pr WHERE doc_id % 2 = 1) " +
        "SELECT doc_id, lang FROM batch LEFT JOIN used USING (reg_domain) " +
        s"WHERE rk <= greatest($DomainCapAdmit - coalesce(n, 0), 0) " +
        "ORDER BY doc_id"),
    // q263: the unified post-migration aggregate, computed from the
    // source table directly (both generations carry length(text) after
    // the add-with-default)
    "q263_schema_migrate" ->
      ("SELECT lang AS language, count(*) AS cnt, " +
        "CAST(sum(length(text)) AS BIGINT) AS sum_chars " +
        "FROM documents GROUP BY 1 ORDER BY 1"),
    // q257: the admission contract replayed declaratively — per-slice
    // winnowing selections (odd batch, even index), within-batch pair
    // closure (q67 CTEs) drops non-reps, cross-match semi-join drops
    // index hits
    "q257_winnow_admission" ->
      ("WITH RECURSIVE " +
        winnowSelCtes("(SELECT * FROM documents WHERE doc_id % 2 = 1)", "od") + ", " +
        winnowSelCtes("(SELECT * FROM documents WHERE doc_id % 2 = 0)", "ev") + ", " +
        s"pairs AS (SELECT a.doc_id da, b.doc_id db FROM odk a JOIN odk b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared), " +
        "edges AS (SELECT da x, db y FROM pairs UNION ALL SELECT db, da FROM pairs), " +
        "reach(node, lbl) AS (SELECT x, x FROM (SELECT DISTINCT x FROM edges) t UNION SELECT e.x, r.lbl FROM edges e JOIN reach r ON e.y = r.node), " +
        "nonrep AS (SELECT node FROM (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node) t WHERE node <> lbl), " +
        "m0 AS (SELECT a.doc_id od, e.doc_id ed, count(*) c FROM odk a JOIN evk e ON a.h = e.h GROUP BY 1, 2), " +
        s"matched AS (SELECT DISTINCT od FROM m0 WHERE c >= $WinnowMinShared) " +
        "SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 1 " +
        "AND doc_id NOT IN (SELECT node FROM nonrep) " +
        "AND doc_id NOT IN (SELECT od FROM matched) ORDER BY doc_id"),
    // q262: the q255 winnowing chain instantiated at SEGMENT grain —
    // stride segmentation (q98's clamped list slice) feeds the same
    // 40+20-bit pack / window-min / df-screen CTEs keyed by
    // (doc_id, seg_id)
    "q262_winnow_segments" ->
      (s"WITH words AS (SELECT doc_id, string_split(text,' ') ws FROM documents), " +
        "segs AS (SELECT doc_id, r['seg_id'] AS seg_id, r['seg'] AS seg FROM " +
        s"(SELECT doc_id, unnest([{'seg_id': i-1, 'seg': array_to_string(ws[(i-1)*$SegWinnowWords+1:i*$SegWinnowWords], ' ')} for i in range(1, CAST(ceil(len(ws)/$SegWinnowWords.0) AS INT)+1)]) r FROM words) t), " +
        "sww AS (SELECT doc_id, seg_id, string_split(seg,' ') words FROM segs), " +
        s"g AS (SELECT doc_id, seg_id, unnest([{'pos': i-1, 'gram': array_to_string(words[i:i+${WinnowK - 1}],' ')} for i in range(1, len(words)-${WinnowK - 1}+1)], recursive := true) FROM sww WHERE len(words) >= $WinnowK), " +
        "p AS (SELECT doc_id, seg_id, pos, CAST(CAST(concat('0x', substr(md5(gram),1,10)) AS UBIGINT) AS BIGINT)*1048576 + (1048575 - pos) AS pack FROM g), " +
        s"sw AS (SELECT doc_id, seg_id, pos, min(pack) OVER (PARTITION BY doc_id, seg_id ORDER BY pos ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS sel FROM p), " +
        s"selh AS (SELECT DISTINCT doc_id, seg_id, sel // 1048576 AS h FROM sw WHERE pos >= ${WinnowW - 1}), " +
        s"rare AS (SELECT h FROM selh GROUP BY h HAVING count(*) <= $WinnowMaxDf), " +
        "k AS (SELECT doc_id, seg_id, h FROM selh JOIN rare USING (h)) " +
        "SELECT a.doc_id AS da, a.seg_id AS sa, b.doc_id AS db, b.seg_id AS sb, count(*) AS n_shared " +
        "FROM k a JOIN k b ON a.h = b.h AND a.doc_id < b.doc_id " +
        s"GROUP BY 1, 2, 3, 4 HAVING count(*) >= $SegWinnowMinShared " +
        "ORDER BY da, sa, db, sb"),
    // q268: the PSL longest-match algorithm replayed as a CASE
    // cascade over the FIXTURE's rules (fixed and small, so the SQL
    // can enumerate them): exception first, then wildcard (last-3
    // labels, NULL when the host IS the public suffix), then the
    // multi-label exact registries, then the 2-label default
    "q268_psl_domain" ->
      ("WITH b AS (SELECT doc_id, CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS UBIGINT) AS BIGINT) AS h FROM documents), " +
        "hosts AS (SELECT doc_id, ['www.','blog.',''][h % 3 + 1] || 'site' || CAST(h % 5 AS VARCHAR) || '.' || " +
        "['com','org','de','co.uk','co.jp','com.br','github.io','ck','www.ck'][h % 9 + 1] AS host FROM b), " +
        "r AS (SELECT doc_id, host, string_split(host, '.') AS labs FROM hosts) " +
        "SELECT doc_id, host, CASE " +
        "WHEN host = 'www.ck' OR host LIKE '%.www.ck' THEN 'www.ck' " +
        "WHEN host LIKE '%.ck' THEN (CASE WHEN len(labs) >= 3 THEN array_to_string(labs[len(labs)-2:len(labs)], '.') ELSE NULL END) " +
        "WHEN host LIKE '%.co.uk' OR host LIKE '%.co.jp' OR host LIKE '%.com.br' OR host LIKE '%.github.io' " +
        "THEN array_to_string(labs[len(labs)-2:len(labs)], '.') " +
        "ELSE array_to_string(labs[len(labs)-1:len(labs)], '.') END AS reg_psl " +
        "FROM r ORDER BY doc_id"),
    // q269: the oracle re-emits the clean twin each dirty URL was
    // GENERATED from (chr() builds the Unicode hosts) — it never
    // decodes; only the Spark side runs IDN/percent normalization,
    // so a decode bug breaks the hash
    "q269_url_idn" ->
      ("WITH b AS (SELECT doc_id, CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS UBIGINT) AS BIGINT) AS h FROM documents), " +
        "g AS (SELECT doc_id, h % 4 AS m, 'site' || CAST(h % 5 AS VARCHAR) AS site, " +
        "'/p/' || CAST(doc_id % 100 AS VARCHAR) AS pth, CAST(doc_id % 100 AS VARCHAR) AS n100, " +
        "['xn--mnchen-3ya','xn--bcher-kva','xn--caf-dma'][h % 3 + 1] AS puny, " +
        "['m' || chr(252) || 'nchen', 'b' || chr(252) || 'cher', 'caf' || chr(233)][h % 3 + 1] AS uni FROM b), " +
        "p AS (SELECT doc_id, " +
        "CASE WHEN m = 0 THEN 'https://' || puny || '.' || site || '.de' || pth " +
        "WHEN m = 1 THEN 'https://' || site || '.com/p/%64%6Fc-' || n100 || '#x' " +
        "WHEN m = 2 THEN 'https://' || site || '.com' || pth || '%3fq' " +
        "ELSE 'https://' || site || '.com' || pth END AS dirty, " +
        "CASE WHEN m = 0 THEN 'https://' || uni || '.' || site || '.de' || pth " +
        "WHEN m = 1 THEN 'https://' || site || '.com/p/doc-' || n100 " +
        "WHEN m = 2 THEN 'https://' || site || '.com' || pth || '%3Fq' " +
        "ELSE 'https://' || site || '.com' || pth END AS canon FROM g) " +
        "SELECT doc_id, dirty, canon, TRUE AS is_clean FROM p ORDER BY doc_id"),
    // q271: the robots gate replayed via the shared urlCtes chain —
    // NOT EXISTS over the inlined rule rows
    "q271_robots_gate" -> {
      val ruleRows = RobotsRules
        .map { case (dom, p) => s"('$dom', '$p')" }.mkString(", ")
      s"WITH ${urlCtes()}, " +
        s"rules(dom, pfx) AS (VALUES $ruleRows) " +
        "SELECT reg_domain, count(*) AS n_allowed, " +
        "CAST(sum(doc_id) AS BIGINT) AS id_sum FROM pr " +
        "WHERE NOT EXISTS (SELECT 1 FROM rules " +
        "WHERE pr.reg_domain = rules.dom AND pr.url_path LIKE rules.pfx || '%') " +
        "GROUP BY reg_domain ORDER BY reg_domain"
    },

    // q273: the tiered cap replayed — md5-derived caps for a third of
    // the domains, default for the rest, same content-keyed rank
    "q273_tiered_domain_cap" -> {
      val hd = "CAST(CAST(concat('0x', substr(md5(reg_domain),1,4)) AS UBIGINT) AS BIGINT)"
      s"WITH ${urlCtes()}, " +
        s"caps AS (SELECT reg_domain, 4 + $hd % 5 AS cap FROM " +
        s"(SELECT DISTINCT reg_domain FROM pr) WHERE $hd % 3 = 0), " +
        "rk AS (SELECT doc_id, reg_domain, row_number() OVER " +
        "(PARTITION BY reg_domain ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM pr) " +
        "SELECT reg_domain, count(*) AS n_kept, " +
        "CAST(sum(doc_id) AS BIGINT) AS kept_id_sum " +
        "FROM rk LEFT JOIN caps USING (reg_domain) " +
        "WHERE rn <= coalesce(cap, 12) " +
        "GROUP BY reg_domain ORDER BY reg_domain"
    },

    // q274: q272's rank CTEs (full 45-domain ranks, no top-k) feed the
    // cap rule, then q273's rank-window shape enforces it
    // q278: the route census replayed — same path mix, DuckDB's 'g'
    // regexp_replace and integer // share
    "q278_url_templates" ->
      ("WITH b AS (SELECT doc_id, CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS UBIGINT) AS BIGINT) AS h FROM documents), " +
        "u AS (SELECT 'site' || CAST(h % 5 AS VARCHAR) || '.com' AS reg_domain, " +
        "CASE WHEN h % 3 = 0 THEN '/article/' || CAST(doc_id AS VARCHAR) " +
        "WHEN h % 3 = 1 THEN '/p/' || CAST(doc_id % 100 AS VARCHAR) || '/rev' || CAST(h % 7 AS VARCHAR) " +
        "ELSE '/cal/2021/' || CAST(h % 12 + 1 AS VARCHAR) END AS pth FROM b), " +
        "tpl AS (SELECT reg_domain, regexp_replace(pth, '[0-9]+', '{n}', 'g') AS template, " +
        "count(*) AS n_urls FROM u GROUP BY 1, 2) " +
        "SELECT reg_domain, template, n_urls, " +
        "CAST((10000 * n_urls) // (sum(n_urls) OVER (PARTITION BY reg_domain)) AS BIGINT) AS share_bp " +
        "FROM tpl ORDER BY reg_domain, template"),

    // q279: span corruption replayed via list comprehensions over the
    // same md5 block draw (blocks of 3, 1-in-6 marked). DuckDB
    // portability: list_position returns 0 (not NULL) on a miss —
    // gate on list_contains; flatten([]) is NULL — coalesce.
    "q279_span_corrupt" ->
      (s"WITH x AS (${spanCorruptSql(3, 6, "documents")}) " +
        "SELECT * FROM x ORDER BY doc_id"),

    // q281: the gate decision replayed — planted-PII counts + the
    // shared qualityScoreSql (dirty aliased AS text), reasons joined
    // with the same comma rule
    "q281_policy_gate" -> {
      val hits = Pii.Classes.map(c => piiCountSql(c._1)).mkString(" + ")
      s"WITH ${piiCtes()}, " +
        // alias dirty under BOTH names: the hit counters read `dirty`,
        // the shared qualityScoreSql fragment reads `text`
        "t2 AS (SELECT doc_id, lang, dirty, dirty AS text FROM p), " +
        s"g AS (SELECT doc_id, lang, ($hits) AS pii_hits, " +
        s"$qualityScoreSql AS quality FROM t2) " +
        "SELECT doc_id, lang, CASE WHEN reason = '' THEN 'admitted' ELSE reason END AS status " +
        "FROM (SELECT doc_id, lang, concat_ws(',', " +
        s"CASE WHEN pii_hits > $PolicyMaxPii THEN 'pii' END, " +
        s"CASE WHEN quality < $PolicyMinQuality THEN 'quality' END) AS reason FROM g) " +
        "ORDER BY doc_id"
    },

    // q280: the mixture replayed — mode filter + the shared
    // spanCorruptSql generator per (block, denom), prefix branch inline
    "q280_ul2_mixture" ->
      (s"WITH m AS ($ul2MixtureSql) SELECT * FROM m ORDER BY doc_id"),

    // q282: the mixture's encoder inputs packed per objective — the
    // q55 window shape over the SAME mixture CTE as q280
    "q282_denoiser_packs" ->
      (s"WITH m AS ($ul2MixtureSql) " +
        "SELECT mode, pack_id, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS pack_tokens " +
        "FROM (SELECT mode, CAST(floor((run - tok)/256.0) AS BIGINT) pack_id, tok " +
        "FROM (SELECT mode, doc_id, len(string_split(input,' ')) tok, " +
        "sum(len(string_split(input,' '))) OVER (PARTITION BY mode ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) run FROM m) t) t2 " +
        "GROUP BY mode, pack_id ORDER BY mode, pack_id"),

    // q275: the planted-PII scorecard replayed — same md5-derived
    // pieces, same regex classes (patterns interpolated from
    // Pii.Classes so the two engines share ONE pattern source)
    "q275_pii_scorecard" -> {
      val classes = Pii.Classes.map(_._1)
      val perDoc = classes.map(n => s"${piiCountSql(n)} AS n_$n").mkString(", ")
      val sums = classes.map(n => s"CAST(sum(n_$n) AS BIGINT) AS n_$n").mkString(", ")
      val presentCnt = classes.map(n => s"(CASE WHEN n_$n > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      s"WITH ${piiCtes()}, c AS (SELECT lang, $perDoc FROM p) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " + sums + ", " +
        s"CAST(sum(CASE WHEN $presentCnt >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_multi " +
        "FROM c GROUP BY lang ORDER BY lang"
    },

    // q276: redaction replayed with the same class order and the 'g'
    // flag (DuckDB replaces first-only without it); the full redacted
    // text is hash-compared
    "q276_pii_redact" -> {
      val redacted = Pii.Classes.foldLeft("dirty") { case (e, (_, pat, rep)) =>
        s"regexp_replace($e, '$pat', '$rep', 'g')"
      }
      val hits = Pii.Classes.map(c => piiCountSql(c._1)).mkString(" + ")
      s"WITH ${piiCtes()} SELECT doc_id, CAST($hits AS BIGINT) AS n_hits, " +
        s"$redacted AS redacted FROM p ORDER BY doc_id"
    },

    // q277: the Luhn census — the 16-term sum comes from the SAME
    // Scala loop that builds the Spark expression (Pii.luhnValidSql)
    "q277_cc_luhn" ->
      (s"WITH ${piiCtes()}, e AS (SELECT lang, " +
        s"regexp_extract(dirty, '${Pii.CcRe}') AS cc FROM p) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_cc, " +
        s"CAST(sum(CASE WHEN ${Pii.luhnValidSql("cc")} THEN 1 ELSE 0 END) AS BIGINT) AS n_luhn_valid, " +
        "CAST(sum(CAST(cc AS BIGINT) % 1000000007) AS BIGINT) AS cc_checksum " +
        "FROM e WHERE cc <> '' GROUP BY lang ORDER BY lang"),

    "q274_authority_cap" -> {
      val sfxArr = "['com','org','net','io','de','co.uk','com.au','ac.uk','edu.au']"
      def domOf(hExpr: String) =
        s"'site' || CAST($hExpr % 5 AS VARCHAR) || '.' || $sfxArr[$hExpr % 9 + 1]"
      def hOf(idExpr: String) =
        s"CAST(CAST(concat('0x', substr(md5(CAST($idExpr AS VARCHAR)),1,4)) AS UBIGINT) AS BIGINT)"
      val iters = (1 to PrIters).map { i =>
        s"r$i AS (SELECT n.node, ${1.0 - PrDamping} + $PrDamping * coalesce(c.m, 0) AS rank " +
          s"FROM nodes n LEFT JOIN (SELECT e.dst AS node, sum(r.rank / d.deg) AS m " +
          s"FROM e JOIN r${i - 1} r ON r.node = e.src JOIN deg d ON d.src = e.src GROUP BY 1) c ON c.node = n.node)"
      }.mkString(", ")
      s"WITH ${urlCtes()}, " +
        s"b2 AS (SELECT doc_id, ${hOf("doc_id")} AS h FROM documents), " +
        "t2 AS (SELECT h, unnest([(h + doc_id*3 + 1) % 997, (h*5 + doc_id + 2) % 997]) AS tid FROM b2), " +
        s"hh AS (SELECT h AS sh, ${hOf("tid")} AS th FROM t2), " +
        s"e0 AS (SELECT ${domOf("sh")} AS src, ${domOf("th")} AS dst FROM hh), " +
        "e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1), " +
        s"r0 AS (SELECT node, 1.0 AS rank FROM nodes), $iters, " +
        s"auth AS (SELECT node AS reg_domain, round(rank, 4) AS rank FROM r$PrIters), " +
        "caps AS (SELECT reg_domain, 5 + CAST(floor(rank * 8) AS BIGINT) AS cap FROM auth), " +
        "rk AS (SELECT doc_id, reg_domain, row_number() OVER " +
        "(PARTITION BY reg_domain ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM pr), " +
        "kept AS (SELECT reg_domain, count(*) AS n_kept, " +
        "CAST(sum(doc_id) AS BIGINT) AS kept_id_sum " +
        "FROM rk LEFT JOIN caps USING (reg_domain) " +
        "WHERE rn <= coalesce(cap, 12) GROUP BY reg_domain) " +
        "SELECT reg_domain, rank, coalesce(cap, 12) AS cap, n_kept, kept_id_sum " +
        "FROM kept LEFT JOIN auth USING (reg_domain) LEFT JOIN caps USING (reg_domain) " +
        "ORDER BY reg_domain"
    },

    // q272: the link domains re-derived ARITHMETICALLY (no extraction
    // — an independent route to the same edge set), then q118's
    // unrolled contribute-and-sum CTEs over the domain graph
    "q272_domain_authority" -> {
      val sfxArr = "['com','org','net','io','de','co.uk','com.au','ac.uk','edu.au']"
      def domOf(hExpr: String) =
        s"'site' || CAST($hExpr % 5 AS VARCHAR) || '.' || $sfxArr[$hExpr % 9 + 1]"
      def hOf(idExpr: String) =
        s"CAST(CAST(concat('0x', substr(md5(CAST($idExpr AS VARCHAR)),1,4)) AS UBIGINT) AS BIGINT)"
      val iters = (1 to PrIters).map { i =>
        s"r$i AS (SELECT n.node, ${1.0 - PrDamping} + $PrDamping * coalesce(c.m, 0) AS rank " +
          s"FROM nodes n LEFT JOIN (SELECT e.dst AS node, sum(r.rank / d.deg) AS m " +
          s"FROM e JOIN r${i - 1} r ON r.node = e.src JOIN deg d ON d.src = e.src GROUP BY 1) c ON c.node = n.node)"
      }.mkString(", ")
      s"WITH b AS (SELECT doc_id, ${hOf("doc_id")} AS h FROM documents), " +
        "t AS (SELECT h, unnest([(h + doc_id*3 + 1) % 997, (h*5 + doc_id + 2) % 997]) AS tid FROM b), " +
        s"hh AS (SELECT h AS sh, ${hOf("tid")} AS th FROM t), " +
        s"e0 AS (SELECT ${domOf("sh")} AS src, ${domOf("th")} AS dst FROM hh), " +
        "e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1), " +
        s"r0 AS (SELECT node, 1.0 AS rank FROM nodes), $iters " +
        s"SELECT rn, node, rank FROM (SELECT node, round(rank, 4) AS rank, " +
        s"row_number() OVER (ORDER BY round(rank, 4) DESC, node) AS rn FROM r$PrIters) " +
        s"WHERE rn <= $PrTopK ORDER BY rn"
    },

    // q270: the admission replayed declaratively — history keys are
    // the CLEAN synthetic urls (canonical fixpoints, spec-proven; the
    // IDN/percent pass is a no-op on unencoded ASCII), the batch's
    // canon keys come from the q266 canonicalization chain over the
    // dirty forms, winners by the content-keyed rank, stored-key
    // rejects by NOT IN
    "q270_url_dedup_admission" ->
      ("WITH b AS (SELECT doc_id, lang, CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS UBIGINT) AS BIGINT) AS h FROM documents), " +
        "parts AS (SELECT doc_id, lang, h, " +
        "['www.','news.','blog.',''][h % 4 + 1] || 'site' || CAST(h % 5 AS VARCHAR) || '.' || " +
        "['com','org','net','io','de','co.uk','com.au','ac.uk','edu.au'][h % 9 + 1] AS host, " +
        "CASE WHEN h % 11 = 0 THEN ':8080' ELSE '' END AS port, " +
        "'/p/' || CAST(doc_id % 100 AS VARCHAR) AS pth, " +
        "CASE WHEN h % 3 = 0 THEN '?q=' || lang ELSE '' END AS qs FROM b), " +
        "u AS (SELECT doc_id, lang, h % 7 AS m, 'https://' || host || port || pth || qs AS url, host, port, pth, qs, " +
        "CASE WHEN qs = '' THEN '?utm_source=news&utm_medium=email' ELSE '&utm_source=news&utm_medium=email' END AS utm FROM parts), " +
        "d0 AS (SELECT doc_id, lang, url, CASE " +
        "WHEN m = 0 THEN 'https://' || upper(host) || port || pth || qs " +
        "WHEN m = 1 THEN url || utm " +
        "WHEN m = 2 THEN url || '#sec2' " +
        "WHEN m = 3 THEN (CASE WHEN port = '' THEN 'https://' || host || ':443' || pth || qs ELSE url END) " +
        "WHEN m = 4 THEN url || (CASE WHEN qs = '' THEN '?utm_source=news' ELSE '&utm_source=news' END) || '#frag' " +
        "WHEN m = 5 THEN url || (CASE WHEN qs = '' THEN '?myfbclid=keep&xutm_source=keep' ELSE '&myfbclid=keep&xutm_source=keep' END) " +
        "ELSE url END AS dirty FROM u), " +
        "c1 AS (SELECT doc_id, lang, " +
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(dirty, '#.*', '', 'g'), " +
        "'([?&])(?:utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*', '\\1', 'g'), " +
        "'([?&])&+', '\\1', 'g'), '[?&]+$', '', 'g') AS u3 FROM d0 WHERE doc_id % 2 = 1), " +
        "c2 AS (SELECT doc_id, lang, " +
        "lower(regexp_replace(regexp_extract(u3, '^[A-Za-z]+://[^/?#]*'), ':443$', '', 'g')) || " +
        "substr(u3, length(regexp_extract(u3, '^[A-Za-z]+://[^/?#]*')) + 1) AS canon FROM c1), " +
        "hist AS (SELECT url AS k FROM u WHERE doc_id % 10 = 0), " +
        "rk AS (SELECT doc_id, lang, canon, row_number() OVER " +
        "(PARTITION BY canon ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM c2) " +
        "SELECT doc_id, lang FROM rk WHERE rn = 1 " +
        "AND canon NOT IN (SELECT k FROM hist) ORDER BY doc_id"),
    // q259: synthesis + parse + eTLD+1 — the generated chain mirrors
    // Url.syntheticUrl/urlParts verbatim (regex parse ≡ java.net.URI
    // on the synthesized shapes: no userinfo, port stripped by the
    // [^/:?#] class, q-param NULL when absent via nullif)
    "q259_url_parse" ->
      (s"WITH ${urlCtes()} SELECT doc_id, url, host, reg_domain, " +
        "url_path, q_param FROM pr ORDER BY doc_id"),
    // q260: census + cap — kept set pinned by the exact id-sum
    // checksum (q132 rule: the md5 rank agrees byte-for-byte)
    "q260_domain_cap" ->
      (s"WITH ${urlCtes()}, " +
        "rk AS (SELECT reg_domain, doc_id, row_number() OVER " +
        "(PARTITION BY reg_domain ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM pr), " +
        "roll AS (SELECT reg_domain, count(*) AS n_docs, " +
        "count(DISTINCT host) AS n_hosts, count(DISTINCT lang) AS n_langs, " +
        "CAST(sum(n_chars) AS BIGINT) AS total_chars FROM pr GROUP BY 1), " +
        s"k AS (SELECT reg_domain, count(*) AS n_kept, " +
        "CAST(sum(doc_id) AS BIGINT) AS kept_id_sum FROM rk " +
        s"WHERE rn <= $DomainCapK GROUP BY 1) " +
        "SELECT roll.reg_domain, n_docs, n_hosts, n_langs, total_chars, " +
        "n_kept, kept_id_sum FROM roll JOIN k ON roll.reg_domain = k.reg_domain " +
        "ORDER BY roll.reg_domain"),
    // q261: exact-dup surplus per domain + same-domain verified
    // near-dup pairs (the q26 CTE chain at the q261 threshold; the
    // threshold compares the EXACT ratio — q144 rule)
    "q261_domain_dup" ->
      (s"WITH ${urlCtes()}, " +
        "eh AS (SELECT reg_domain, md5(text) AS th, count(*) AS n FROM pr GROUP BY 1, 2), " +
        "ex AS (SELECT reg_domain, CAST(sum(n) AS BIGINT) AS n_docs, " +
        "CAST(sum(n - 1) AS BIGINT) AS n_exact_dup FROM eh GROUP BY 1), " +
        s"${jaccardCtes(None, "pr")}, " +
        "dj AS (SELECT da, db FROM p0 JOIN cnt ca ON da = ca.doc_id " +
        "JOIN cnt cb ON db = cb.doc_id " +
        s"WHERE overlap*1.0/(ca.n + cb.n - overlap) >= $DomainDupJac), " +
        "nd AS (SELECT x.reg_domain, count(*) AS n_near_pairs FROM dj " +
        "JOIN pr x ON dj.da = x.doc_id JOIN pr y ON dj.db = y.doc_id " +
        "WHERE x.reg_domain = y.reg_domain GROUP BY 1) " +
        "SELECT ex.reg_domain, n_docs, n_exact_dup, " +
        "round(n_exact_dup*1.0/n_docs, 4) AS exact_dup_rate, " +
        "coalesce(n_near_pairs, 0) AS n_near_pairs " +
        "FROM ex LEFT JOIN nd ON ex.reg_domain = nd.reg_domain " +
        "ORDER BY ex.reg_domain"),
    // q186: the same chain, final select swapped for the token explode
    "q186_bpe_tokens" -> Bpe.tokenTableSql(8, 25),
    // q164: integer day diffs — exact mean, element p95
    "q164_ship_delay" ->
      ("SELECT o_orderpriority, count(*) AS n_items, " +
        "CAST(sum(dl) // count(*) AS BIGINT) AS avg_delay, " +
        "CAST(quantile_disc(dl, 0.95) AS BIGINT) AS p95_delay, max(dl) AS max_delay FROM " +
        "(SELECT o_orderpriority, CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS dl " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey) t " +
        "GROUP BY 1 ORDER BY 1"),
    // q162: EXISTS as a semi join spanning both sides
    "q162_late_orders" ->
      ("SELECT o_orderpriority, count(*) AS n_late_orders FROM orders " +
        "WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate) " +
        "GROUP BY 1 ORDER BY 1"),
    // q163: midpoint halves, exact-count shares and their delta
    "q163_mix_shift" ->
      ("WITH m AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events), " +
        "e AS (SELECT event_type, epoch_us(ts) <= (SELECT mid FROM m) AS ref FROM events), " +
        "t AS (SELECT count(CASE WHEN ref THEN 1 END) AS tb, count(CASE WHEN NOT ref THEN 1 END) AS ta FROM e) " +
        "SELECT event_type, count(CASE WHEN ref THEN 1 END) AS n_before, count(CASE WHEN NOT ref THEN 1 END) AS n_after, " +
        "round(CAST(count(CASE WHEN ref THEN 1 END) AS DOUBLE) / (SELECT tb FROM t), 4) AS share_before, " +
        "round(CAST(count(CASE WHEN NOT ref THEN 1 END) AS DOUBLE) / (SELECT ta FROM t), 4) AS share_after, " +
        "round(CAST(count(CASE WHEN NOT ref THEN 1 END) AS DOUBLE) / (SELECT ta FROM t) - CAST(count(CASE WHEN ref THEN 1 END) AS DOUBLE) / (SELECT tb FROM t), 4) AS share_delta " +
        "FROM e GROUP BY 1 ORDER BY 1"),
    // q161: same star join, revenue rounded once
    "q161_local_volume" ->
      ("SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue, count(*) AS n_items " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY 1 ORDER BY revenue DESC, n_name"),
    // q159: day − row_number is constant within a consecutive run
    "q159_streaks" ->
      (s"WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day FROM events), " +
        "g AS (SELECT user_id, day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp FROM d), " +
        "runs AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2) " +
        "SELECT user_id, max(len) AS longest_streak, count(*) AS n_streaks " +
        "FROM runs GROUP BY 1 ORDER BY user_id"),
    // q160: identical top-N ranking, |union| = 2N − |common|
    "q160_vocab_overlap" -> {
      val n = VocabTopN
      s"WITH tf AS (SELECT lang, token, count(*) AS c FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents) GROUP BY 1, 2), " +
        s"top AS (SELECT lang, token FROM (SELECT lang, token, row_number() OVER (PARTITION BY lang ORDER BY c DESC, token) AS rn FROM tf) WHERE rn <= $n), " +
        "i AS (SELECT a.lang AS la, b.lang AS lb, count(*) AS common FROM top a JOIN top b USING (token) WHERE a.lang < b.lang GROUP BY 1, 2) " +
        s"SELECT la, lb, common, round(CAST(common AS DOUBLE) / (${2 * n} - common), 4) AS jaccard " +
        "FROM i ORDER BY la, lb"
    },
    // q155: the q113 chain + a lag over the 3-row stage frame
    "q155_funnel_dropoff" -> {
      val Seq(s1, s2, s3) = FunnelStages
      "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events), " +
        s"f1 AS (SELECT user_id, min(us) AS t FROM e WHERE event_type = '$s1' GROUP BY 1), " +
        s"f2 AS (SELECT e.user_id, min(us) AS t FROM e JOIN f1 USING (user_id) WHERE event_type = '$s2' AND us > f1.t GROUP BY 1), " +
        s"f3 AS (SELECT e.user_id, min(us) AS t FROM e JOIN f2 USING (user_id) WHERE event_type = '$s3' AND us > f2.t GROUP BY 1), " +
        s"s AS (SELECT CAST(1 AS BIGINT) AS stage_ord, '$s1' AS stage, (SELECT count(*) FROM f1) AS n_entities " +
        s"UNION ALL SELECT 2, '$s2', (SELECT count(*) FROM f2) UNION ALL SELECT 3, '$s3', (SELECT count(*) FROM f3)) " +
        "SELECT stage_ord, stage, n_entities, " +
        "round(CAST(n_entities AS DOUBLE) / lag(n_entities) OVER (ORDER BY stage_ord), 4) AS conv_rate " +
        "FROM s ORDER BY stage_ord"
    },
    // q156: (days + 3) % 7 → Mon=0..Sun=6 (epoch day 0 is a Thursday),
    // so >= 5 is Saturday+Sunday; no calendars either side
    "q156_weekpart" ->
      (s"WITH e AS (SELECT event_type, value, (epoch_us(ts) // $DayUs + 3) % 7 >= 5 AS we FROM events) " +
        "SELECT event_type, count(CASE WHEN NOT we THEN 1 END) AS wd_cnt, count(CASE WHEN we THEN 1 END) AS we_cnt, " +
        "round(sum(CASE WHEN NOT we THEN value END), 4) AS wd_load, round(sum(CASE WHEN we THEN value END), 4) AS we_load, " +
        "round(CAST(count(CASE WHEN we THEN 1 END) AS DOUBLE) / count(*), 4) AS we_share " +
        "FROM e GROUP BY 1 ORDER BY 1"),
    // q157: one exact division against the day total
    "q157_share_of_voice" ->
      (s"WITH d AS (SELECT epoch_us(ts) // $DayUs AS day, event_type, count(*) AS cnt FROM events GROUP BY 1, 2), " +
        "t AS (SELECT day, sum(cnt) AS tot FROM d GROUP BY 1) " +
        "SELECT d.day, d.event_type, d.cnt, round(CAST(d.cnt AS DOUBLE) / t.tot, 4) AS share " +
        "FROM d JOIN t USING (day) ORDER BY day, event_type"),
    // q158: q25's exact groups rolled to the storage ledger
    "q158_dedup_savings" ->
      ("SELECT lang, CAST(sum(copies - 1) AS BIGINT) AS dup_docs, " +
        "CAST(sum((copies - 1) * len) AS BIGINT) AS bytes_saved FROM " +
        "(SELECT lang, count(*) AS copies, length(text) AS len FROM documents GROUP BY lang, text) t " +
        "GROUP BY lang ORDER BY lang"),
    // q154: pure epoch arithmetic — no calendar functions either side
    "q154_diurnal" ->
      ("SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hod, " +
        "count(*) AS cnt, round(sum(value), 4) AS load " +
        "FROM events GROUP BY 1, 2 ORDER BY event_type, hod"),
    // q152: identical interpolated quartiles → identical fences
    "q152_iqr_outliers" ->
      ("WITH q AS (SELECT event_type, quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3 FROM events GROUP BY 1), " +
        "f AS (SELECT event_type, q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi FROM q) " +
        "SELECT e.event_type, count(*) AS cnt, count(CASE WHEN value < lo OR value > hi THEN 1 END) AS n_outliers, " +
        "round(min(lo), 4) AS lo_fence, round(min(hi), 4) AS hi_fence " +
        "FROM events e JOIN f USING (event_type) GROUP BY 1 ORDER BY 1"),
    // q153: q138's islands as transactions through the q126 machinery
    "q153_session_cooccur" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events), " +
        "fg AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS nw " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), " +
        "r AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM fg), " +
        "it AS (SELECT DISTINCT CAST(user_id AS VARCHAR) || '#' || CAST(sid AS VARCHAR) AS tx, event_type AS itm FROM r), " +
        "n AS (SELECT count(DISTINCT tx) AS n_tx FROM it), " +
        "ci AS (SELECT itm, count(*) AS c FROM it GROUP BY 1), " +
        "cp AS (SELECT a.itm AS ia, b.itm AS ib, count(*) AS cp FROM it a JOIN it b ON a.tx = b.tx AND a.itm < b.itm GROUP BY 1, 2) " +
        "SELECT ia, ib, cp, round(CAST(cp AS DOUBLE) * (SELECT n_tx FROM n) / (ca.c * cb.c), 4) AS lift " +
        "FROM cp JOIN ci ca ON ca.itm = cp.ia JOIN ci cb ON cb.itm = cp.ib " +
        "WHERE cp >= 2 ORDER BY lift DESC, ia, ib LIMIT 20"),
    // q151: two leads, one context division
    "q151_trigrams" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events), " +
        "t AS (SELECT event_type AS t1, lead(event_type, 1) OVER w AS t2, lead(event_type, 2) OVER w AS t3 " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), " +
        "c AS (SELECT t1, t2, t3, count(*) AS cnt FROM t WHERE t3 IS NOT NULL GROUP BY 1, 2, 3), " +
        "x AS (SELECT t1, t2, sum(cnt) AS ctx FROM c GROUP BY 1, 2) " +
        "SELECT c.t1, c.t2, c.t3, c.cnt, round(CAST(c.cnt AS DOUBLE) / x.ctx, 4) AS prob " +
        "FROM c JOIN x USING (t1, t2) ORDER BY t1, t2, t3"),
    // q149: identical (metric, user) ntile orderings both engines
    "q149_rfm" ->
      ("WITH u AS (SELECT user_id, max(epoch_us(ts)) AS lst, count(*) AS freq, round(sum(value), 4) AS mon FROM events GROUP BY 1), " +
        "q AS (SELECT user_id, ntile(4) OVER (ORDER BY lst DESC, user_id) AS r, " +
        "ntile(4) OVER (ORDER BY freq DESC, user_id) AS f, " +
        "ntile(4) OVER (ORDER BY mon DESC, user_id) AS m FROM u) " +
        "SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR) AS rfm, count(*) AS n_users " +
        "FROM q GROUP BY 1 ORDER BY rfm"),
    // q150: exact interpolating percentile per (class, day) — q23 rule
    "q150_daily_bands" ->
      (s"SELECT event_type, epoch_us(ts) // $DayUs AS day, count(*) AS cnt, " +
        "round(quantile_cont(value, 0.5), 4) AS p50, round(quantile_cont(value, 0.95), 4) AS p95 " +
        "FROM events GROUP BY 1, 2 ORDER BY event_type, day"),
    // q147: arithmetic digit extraction, one division, log10 rounded
    "q147_benford" ->
      ("WITH e AS (SELECT value FROM events WHERE value >= 1.0), " +
        "n AS (SELECT count(*) AS n FROM e), " +
        "dg AS (SELECT CAST(floor(value / power(10.0, floor(log10(value)))) AS BIGINT) AS digit FROM e) " +
        "SELECT digit, count(*) AS cnt, round(CAST(count(*) AS DOUBLE) / (SELECT n FROM n), 4) AS freq, " +
        "round(log10(1.0 + 1.0 / digit), 4) AS benford FROM dg GROUP BY digit ORDER BY digit"),
    // q148: first-activity days + a calendar-bounded running sum
    "q148_user_growth" ->
      (s"WITH f AS (SELECT user_id, min(epoch_us(ts) // $DayUs) AS day FROM events GROUP BY 1), " +
        "d AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1) " +
        "SELECT day, new_users, CAST(sum(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS total_users " +
        "FROM d ORDER BY day"),
    // q146: generate_series densification, lead pairs, closed form
    "q146_autocorr" ->
      ("WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hb, round(sum(value), 4) AS cnt FROM events GROUP BY 1, 2), " +
        "b AS (SELECT min(hb) AS lo, max(hb) AS hi FROM h), " +
        "ty AS (SELECT DISTINCT event_type FROM h), " +
        "spine AS (SELECT event_type, gs.hb FROM ty CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM b), (SELECT hi FROM b))) AS hb) gs), " +
        "dn AS (SELECT s.event_type, s.hb, coalesce(h.cnt, 0) AS cnt FROM spine s LEFT JOIN h USING (event_type, hb)), " +
        "p AS (SELECT event_type, cnt AS y, lead(cnt) OVER (PARTITION BY event_type ORDER BY hb) AS z FROM dn), " +
        "agg AS (SELECT event_type, count(*) AS n, sum(y) AS sy, sum(z) AS sz, sum(y*y) AS syy, sum(z*z) AS szz, sum(y*z) AS syz FROM p WHERE z IS NOT NULL GROUP BY 1) " +
        "SELECT event_type, n AS n_pairs, round((n * syz - sy * sz) / sqrt((n * syy - sy * sy) * (n * szz - sz * sz)), 4) AS autocorr " +
        "FROM agg ORDER BY event_type"),
    // q145: same closed-form slope over the same rounded hourly loads
    "q145_trend_slope" ->
      ("WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hb, round(sum(value), 4) AS load FROM events GROUP BY 1, 2), " +
        "m AS (SELECT min(hb) AS h0 FROM h), " +
        "x AS (SELECT event_type, CAST(hb - (SELECT h0 FROM m) AS DOUBLE) AS x, load FROM h), " +
        "agg AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(load) AS sy, sum(x * x) AS sxx, sum(x * load) AS sxy FROM x GROUP BY 1) " +
        "SELECT event_type, n AS n_hours, round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope, " +
        "round(sy / n, 4) AS mean_load FROM agg ORDER BY event_type"),
    // q144: q109's blocks, intersection-only multiset arithmetic
    "q144_weighted_jaccard" ->
      ("WITH b AS (SELECT doc_id, text, lang, string_split(text,' ')[1] AS fw FROM documents), " +
        "ok AS (SELECT lang, fw FROM b GROUP BY 1, 2 HAVING count(*) <= 100), " +
        "kept AS (SELECT b.* FROM b JOIN ok USING (lang, fw)), " +
        "p AS (SELECT a.doc_id AS a_id, c.doc_id AS b_id FROM kept a JOIN kept c USING (lang, fw) WHERE a.doc_id < c.doc_id), " +
        "tf AS (SELECT doc_id, t, count(*) AS c FROM (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM kept) GROUP BY 1, 2), " +
        "tot AS (SELECT doc_id, sum(c) AS tot FROM tf GROUP BY 1), " +
        "m AS (SELECT p.a_id, p.b_id, sum(least(ta.c, tb.c)) AS minsum FROM p JOIN tf ta ON ta.doc_id = p.a_id JOIN tf tb ON tb.doc_id = p.b_id AND tb.t = ta.t GROUP BY 1, 2) " +
        "SELECT a_id, b_id, round(CAST(minsum AS DOUBLE) / (ta.tot + tb.tot - minsum), 4) AS sim " +
        "FROM m JOIN tot ta ON ta.doc_id = m.a_id JOIN tot tb ON tb.doc_id = m.b_id " +
        s"WHERE CAST(minsum AS DOUBLE) / (ta.tot + tb.tot - minsum) >= $WjMinSim ORDER BY a_id, b_id"),
    // q143: the q67/q80 recursive closure rolled to size counts
    "q143_cluster_sizes" ->
      (s"WITH RECURSIVE $dedupClosureCtes, " +
        "lbls AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node), " +
        "sz AS (SELECT lbl, count(*) AS s FROM lbls GROUP BY 1) " +
        "SELECT s AS cluster_size, count(*) AS n_clusters FROM sz " +
        "GROUP BY 1 ORDER BY cluster_size"),
    // q142: posexplode via the struct-comprehension trick (q65 rule)
    "q142_dim_stats" ->
      ("SELECT r['p'] AS pos, count(*) AS n, round(avg(r['v']), 4) + 0.0 AS mean, " +
        "round(stddev_samp(r['v']), 4) AS sd, round(min(r['v']), 4) + 0.0 AS mn, round(max(r['v']), 4) + 0.0 AS mx " +
        "FROM (SELECT unnest([{'p': i-1, 'v': CAST(embedding[i] AS DOUBLE)} for i in range(1, len(embedding)+1)]) AS r FROM embeddings) t " +
        "GROUP BY 1 ORDER BY pos"),
    // q140: q138's islands rolled up per user, one exact division
    "q140_bounce" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events), " +
        "f AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS nw " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), " +
        "r AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM f), " +
        "sess AS (SELECT user_id, sid, count(*) AS ne FROM r GROUP BY 1, 2) " +
        "SELECT user_id, count(*) AS n_sessions, count(CASE WHEN ne = 1 THEN 1 END) AS n_bounces, " +
        "round(CAST(count(CASE WHEN ne = 1 THEN 1 END) AS DOUBLE) / count(*), 4) AS bounce_rate " +
        "FROM sess GROUP BY user_id ORDER BY user_id"),
    // q141: the q113 chain with the q125 arm carried per stage
    "q141_funnel_segment" -> {
      val Seq(s1, s2, s3) = FunnelStages
      val arm = "CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),1,4)) AS INTEGER) < 32768 THEN 'A' ELSE 'B' END"
      s"WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, $arm AS segment FROM events), " +
        s"f1 AS (SELECT user_id, segment, min(us) AS t FROM e WHERE event_type = '$s1' GROUP BY 1, 2), " +
        s"f2 AS (SELECT e.user_id, f1.segment, min(us) AS t FROM e JOIN f1 USING (user_id) WHERE event_type = '$s2' AND us > f1.t GROUP BY 1, 2), " +
        s"f3 AS (SELECT e.user_id, f2.segment, min(us) AS t FROM e JOIN f2 USING (user_id) WHERE event_type = '$s3' AND us > f2.t GROUP BY 1, 2) " +
        s"SELECT * FROM (SELECT CAST(1 AS BIGINT) AS stage_ord, '$s1' AS stage, segment, count(*) AS n_entities FROM f1 GROUP BY 3 " +
        s"UNION ALL SELECT 2, '$s2', segment, count(*) FROM f2 GROUP BY 3 " +
        s"UNION ALL SELECT 3, '$s3', segment, count(*) FROM f3 GROUP BY 3) ORDER BY stage_ord, segment"
    },
    // q138: q115's lag-flag/run-sum shape with the gap trigger
    "q138_session_stats" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events), " +
        "f AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS nw " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), " +
        "r AS (SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM f) " +
        "SELECT user_id, sid AS session_id, count(*) AS n_events, min(us) AS t_start, max(us) AS t_end, max(us) - min(us) AS duration " +
        "FROM r GROUP BY 1, 2 ORDER BY user_id, session_id"),
    // q139: q114's triangle joined to its own day-0 column
    "q139_retention_rate" ->
      (s"WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS b FROM events), " +
        "c AS (SELECT user_id, min(b) AS cohort FROM a GROUP BY 1), " +
        "r AS (SELECT c.cohort, a.b - c.cohort AS day_offset, count(*) AS n_entities FROM a JOIN c USING (user_id) GROUP BY 1, 2), " +
        "b0 AS (SELECT cohort, n_entities AS c0 FROM r WHERE day_offset = 0) " +
        "SELECT r.cohort, r.day_offset, r.n_entities, round(CAST(r.n_entities AS DOUBLE) / b0.c0, 4) AS rate " +
        "FROM r JOIN b0 USING (cohort) ORDER BY cohort, day_offset"),
    // q137: the q113 chain carrying t1; integer mean, element median
    "q137_conversion_time" -> {
      val Seq(s1, s2, s3) = FunnelStages
      "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events), " +
        s"f1 AS (SELECT user_id, min(us) AS t FROM e WHERE event_type = '$s1' GROUP BY 1), " +
        s"f2 AS (SELECT e.user_id, f1.t AS t1, min(us) AS t FROM e JOIN f1 USING (user_id) WHERE event_type = '$s2' AND us > f1.t GROUP BY 1, 2), " +
        s"f3 AS (SELECT e.user_id, f2.t1, min(us) AS t FROM e JOIN f2 USING (user_id) WHERE event_type = '$s3' AND us > f2.t GROUP BY 1, 2), " +
        "c AS (SELECT t - t1 AS elapsed FROM f3) " +
        "SELECT count(*) AS n_converted, CAST(sum(elapsed) // count(*) AS BIGINT) AS avg_elapsed, " +
        "CAST(quantile_disc(elapsed, 0.5) AS BIGINT) AS med_elapsed, max(elapsed) AS max_elapsed FROM c"
    },
    // q136: integer-exponent dyadic decay — exact weights both engines
    "q136_decayed_load" ->
      (s"WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events), " +
        s"e AS (SELECT event_type || '|' || CAST(user_id % 500 AS VARCHAR) AS item, value, ((SELECT mx FROM m) - epoch_us(ts)) // $DayUs AS age FROM events), " +
        "h AS (SELECT item, round(sum(value * power(2.0, -age)), 4) AS hot, count(*) AS cnt FROM e GROUP BY 1) " +
        "SELECT rn, item, hot, cnt FROM (SELECT item, hot, cnt, row_number() OVER (ORDER BY hot DESC, item) AS rn FROM h) WHERE rn <= 20 ORDER BY rn"),
    // q135: same rounded loads, rank-weighted sum, one rounding site
    "q135_gini" ->
      ("WITH l AS (SELECT event_type, user_id, round(sum(value), 4) AS lo FROM events GROUP BY 1, 2), " +
        "r AS (SELECT event_type, lo, row_number() OVER (PARTITION BY event_type ORDER BY lo, user_id) AS rn FROM l) " +
        "SELECT event_type, count(*) AS n_classes, " +
        "round(2.0 * sum(lo * rn) / (count(*) * sum(lo)) - (count(*) + 1.0) / count(*), 4) AS gini " +
        "FROM r GROUP BY event_type ORDER BY event_type"),
    // q134: rounded per-class loads summed in the same total order;
    // the row CROSSING the threshold is kept (previous cum_share < 0.8)
    // so the head always covers at least the threshold
    "q134_pareto" ->
      ("WITH a AS (SELECT event_type || '|' || CAST(user_id % 500 AS VARCHAR) AS item, round(sum(value), 4) AS load FROM events GROUP BY 1), " +
        "t AS (SELECT sum(load) AS tot FROM a), " +
        "c AS (SELECT item, load, row_number() OVER (ORDER BY load DESC, item) AS rn, " +
        "round(sum(load) OVER (ORDER BY load DESC, item ROWS UNBOUNDED PRECEDING) / (SELECT tot FROM t), 4) AS cum_share FROM a) " +
        "SELECT item, rn, load, cum_share FROM " +
        "(SELECT item, rn, load, cum_share, lag(cum_share) OVER (ORDER BY rn) AS prev FROM c) x " +
        "WHERE coalesce(prev, 0) < 0.8 ORDER BY rn"),
    // q133: exact per-group ranking under the same (cnt desc, item)
    // rule the sketch selects by
    "q133_group_topk" ->
      ("SELECT event_type, rn, item, cnt, CAST(0 AS BIGINT) AS err FROM " +
        "(SELECT event_type, 'u' || CAST(user_id AS VARCHAR) AS item, count(*) AS cnt, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY count(*) DESC, 'u' || CAST(user_id AS VARCHAR)) AS rn " +
        "FROM events GROUP BY 1, 2) t WHERE rn <= 3 ORDER BY event_type, rn"),
    // q132: the sampled ids are pinned by the id_sum checksum (exact
    // longs) — the md5 rank must agree byte-for-byte across engines
    "q132_group_sample" ->
      (s"SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum FROM " +
        "(SELECT lang, doc_id, row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents) t " +
        s"WHERE rk <= $GroupSampleK GROUP BY lang ORDER BY lang"),
    // q129: same midpoint rule as q88; latest-wins rank per snapshot
    "q129_snapshot_diff" ->
      ("WITH m AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events), " +
        "a AS (SELECT user_id, event_type AS v FROM (SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events WHERE epoch_us(ts) <= (SELECT mid FROM m)) t WHERE rn = 1), " +
        "b AS (SELECT user_id, event_type AS v FROM (SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events) t WHERE rn = 1) " +
        "SELECT coalesce(a.user_id, b.user_id) AS user_id, " +
        "CASE WHEN a.v IS NULL THEN 'added' WHEN b.v IS NULL THEN 'removed' WHEN a.v = b.v THEN 'unchanged' ELSE 'changed' END AS status " +
        "FROM a FULL OUTER JOIN b ON a.user_id = b.user_id ORDER BY user_id"),
    // q130: combination census under the shared floor
    "q130_k_anonymity" ->
      (s"SELECT lang, source, count(*) AS group_size FROM documents " +
        s"GROUP BY 1, 2 HAVING count(*) < $KAnonK ORDER BY group_size, lang, source"),
    // q127: margins derived from the observed cells, one rounding site
    "q127_chi_square" ->
      ("WITH obs AS (SELECT event_type AS a, user_id % 4 AS b, count(*) AS o FROM events GROUP BY 1, 2), " +
        "r AS (SELECT a, sum(o) AS ra FROM obs GROUP BY 1), " +
        "c AS (SELECT b, sum(o) AS cb FROM obs GROUP BY 1), " +
        "n AS (SELECT sum(o) AS n FROM obs) " +
        "SELECT obs.a, obs.b, obs.o, round(CAST(ra AS DOUBLE) * cb / n.n, 4) AS expected, " +
        "round(pow(o - CAST(ra AS DOUBLE) * cb / n.n, 2) / (CAST(ra AS DOUBLE) * cb / n.n), 4) AS contrib " +
        "FROM obs JOIN r USING (a) JOIN c USING (b) CROSS JOIN n ORDER BY a, b"),
    // q128: brute-force triple join + orientation-free ΣC(d,2) wedges
    "q128_triangles" ->
      ("WITH it AS (SELECT DISTINCT l_orderkey AS tx, l_partkey AS itm FROM lineitem), " +
        "e AS (SELECT a.itm AS u, b.itm AS v FROM it a JOIN it b ON a.tx = b.tx AND a.itm < b.itm GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "deg AS (SELECT node, count(*) AS d FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) GROUP BY 1) " +
        "SELECT (SELECT count(*) FROM e) AS n_edges, " +
        "CAST((SELECT sum(d * (d - 1)) // 2 FROM deg) AS BIGINT) AS n_wedges, " +
        "(SELECT count(*) FROM e e1, e e2, e e3 WHERE e1.u = e2.u AND e1.v < e2.v AND e3.u = e1.v AND e3.v = e2.v) AS n_triangles"),
    // q126: distinct basket items, tx-keyed pair join, exact-count lift
    "q126_basket_lift" ->
      ("WITH it AS (SELECT DISTINCT l_orderkey AS tx, l_partkey AS itm FROM lineitem), " +
        "n AS (SELECT count(DISTINCT tx) AS n_tx FROM it), " +
        "ci AS (SELECT itm, count(*) AS c FROM it GROUP BY 1), " +
        "cp AS (SELECT a.itm AS ia, b.itm AS ib, count(*) AS cp FROM it a JOIN it b ON a.tx = b.tx AND a.itm < b.itm GROUP BY 1, 2) " +
        "SELECT ia, ib, cp, round(CAST(cp AS DOUBLE) * (SELECT n_tx FROM n) / (ca.c * cb.c), 4) AS lift " +
        "FROM cp JOIN ci ca ON ca.itm = cp.ia JOIN ci cb ON cb.itm = cp.ib " +
        "WHERE cp >= 2 ORDER BY lift DESC, ia, ib LIMIT 20"),
    // q123: recall 1.0 by the prefix lemma → same oracle as q26/q40
    "q123_prefix_jaccard" -> jaccardPairsSql,
    // q124: generate_series spine × distinct keys, silence = 0
    "q124_densify" ->
      ("WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hb FROM events), " +
        "c AS (SELECT event_type, hb, count(*) AS cnt FROM e GROUP BY 1, 2), " +
        "b AS (SELECT min(hb) AS lo, max(hb) AS hi FROM e), " +
        "types AS (SELECT DISTINCT event_type FROM e), " +
        "spine AS (SELECT event_type, gs.hb FROM types CROSS JOIN " +
        "(SELECT unnest(generate_series((SELECT lo FROM b), (SELECT hi FROM b))) AS hb) gs) " +
        "SELECT s.event_type, s.hb, coalesce(c.cnt, 0) AS cnt " +
        "FROM spine s LEFT JOIN c USING (event_type, hb) ORDER BY 1, 2"),
    // q125: same md5-bucket arm rule as q54, conditional moments in
    // one aggregation, Welch t rounded once at the end
    "q125_ab_welch" ->
      ("WITH e AS (SELECT event_type, value, CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),1,4)) AS INTEGER) < 32768 AS arm_a FROM events) " +
        "SELECT event_type, count(CASE WHEN arm_a THEN 1 END) AS n_a, count(CASE WHEN NOT arm_a THEN 1 END) AS n_b, " +
        "round(avg(CASE WHEN arm_a THEN value END), 4) AS mean_a, round(avg(CASE WHEN NOT arm_a THEN value END), 4) AS mean_b, " +
        "round((avg(CASE WHEN arm_a THEN value END) - avg(CASE WHEN NOT arm_a THEN value END)) / " +
        "sqrt(var_samp(CASE WHEN arm_a THEN value END) / count(CASE WHEN arm_a THEN 1 END) + " +
        "var_samp(CASE WHEN NOT arm_a THEN value END) / count(CASE WHEN NOT arm_a THEN 1 END)), 4) AS t_stat " +
        "FROM e GROUP BY event_type ORDER BY event_type"),
    // q121: lead pairs → counts → one exact-count division
    "q121_transitions" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events), " +
        "p AS (SELECT event_type AS from_type, lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS to_type FROM e), " +
        "c AS (SELECT from_type, to_type, count(*) AS cnt FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2), " +
        "t AS (SELECT from_type, sum(cnt) AS tot FROM c GROUP BY 1) " +
        "SELECT c.from_type, c.to_type, c.cnt, round(CAST(c.cnt AS DOUBLE) / t.tot, 4) AS prob " +
        "FROM c JOIN t USING (from_type) ORDER BY 1, 2"),
    // q122: per-column branches generated from ProfileCols
    "q122_profile" -> {
      val branches = ProfileCols.map { c =>
        s"SELECT '$c' AS \"column\", count(*) AS n_rows, count($c) AS n_nonnull, " +
          s"count(DISTINCT $c) AS n_distinct, CAST(min($c) AS VARCHAR) AS min_val, " +
          s"CAST(max($c) AS VARCHAR) AS max_val FROM events"
      }.mkString(" UNION ALL ")
      s"SELECT * FROM ($branches) ORDER BY \"column\""
    },
    // q109: same blocks as q102, DuckDB's own jaro_winkler_similarity
    // as the metric — the native expression matches it byte-for-byte;
    // threshold on the rounded sim both sides
    "q109_jw_pairs" ->
      (s"WITH b AS (SELECT doc_id, substr(text,1,$EditPrefix) AS k, lang, string_split(text,' ')[1] AS fw FROM documents), " +
        "ok AS (SELECT lang, fw FROM b GROUP BY 1, 2 HAVING count(*) <= 100) " +
        "SELECT a.doc_id AS a_id, c.doc_id AS b_id, round(jaro_winkler_similarity(a.k, c.k), 4) AS sim " +
        "FROM (SELECT b.* FROM b JOIN ok USING (lang, fw)) a " +
        "JOIN (SELECT b.* FROM b JOIN ok USING (lang, fw)) c USING (lang, fw) " +
        s"WHERE a.doc_id < c.doc_id AND round(jaro_winkler_similarity(a.k, c.k), 4) >= $JwMinSim " +
        "ORDER BY a_id, b_id"),
    // q107: per-char counts → H = ln n − Σ c·ln c / n (one rounding
    // site); DuckDB's '' splitter emits exactly the characters
    "q107_char_entropy" ->
      ("WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents), " +
        "cnt AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2) " +
        "SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars, " +
        "round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 4) AS entropy " +
        "FROM cnt GROUP BY doc_id ORDER BY doc_id"),
    // q108: µs-truncated midpoint split (q88's rule), fixed-width bins,
    // add-one smoothing over each type's observed bin set, PSI sum
    "q108_psi_drift" ->
      ("WITH ev AS (SELECT event_type, value, epoch_us(ts) AS us FROM events), " +
        "m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev), " +
        s"b AS (SELECT event_type, CAST(floor(value / $PsiBinWidth) AS BIGINT) AS bin, us <= (SELECT mid FROM m) AS is_ref FROM ev), " +
        "cnt AS (SELECT event_type, bin, count(CASE WHEN is_ref THEN 1 END) AS cr, count(CASE WHEN NOT is_ref THEN 1 END) AS cc FROM b GROUP BY 1, 2), " +
        "tot AS (SELECT event_type, sum(cr) AS nr, sum(cc) AS nc, count(*) AS nb FROM cnt GROUP BY 1) " +
        "SELECT c.event_type, CAST(max(t.nr) AS BIGINT) AS n_ref, CAST(max(t.nc) AS BIGINT) AS n_cur, " +
        "round(sum(((c.cr + 1.0) / (t.nr + t.nb) - (c.cc + 1.0) / (t.nc + t.nb)) * ln(((c.cr + 1.0) / (t.nr + t.nb)) / ((c.cc + 1.0) / (t.nc + t.nb)))), 4) AS psi " +
        "FROM cnt c JOIN tot t USING (event_type) GROUP BY 1 ORDER BY 1"),
    // q248: exact integer KS — cumulative counts over pooled distinct
    // cents, cross-multiplied numerators, one edge division (q108's
    // midpoint read, q194's cents)
    "q248_ks_drift" ->
      ("WITH e AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS u, epoch_us(ts) AS us FROM events), " +
        "m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e), " +
        "b AS (SELECT event_type, u, us <= (SELECT mid FROM m) AS r FROM e), " +
        "per AS (SELECT event_type, u, count(CASE WHEN r THEN 1 END) AS c1, count(CASE WHEN NOT r THEN 1 END) AS c2 FROM b GROUP BY 1, 2), " +
        "tot AS (SELECT event_type, sum(c1) AS n1, sum(c2) AS n2 FROM per GROUP BY 1), " +
        "cum AS (SELECT event_type, u, sum(c1) OVER (PARTITION BY event_type ORDER BY u) AS f1, sum(c2) OVER (PARTITION BY event_type ORDER BY u) AS f2 FROM per), " +
        "dn AS (SELECT c.event_type, c.u, t.n1, t.n2, abs(c.f1*t.n2 - c.f2*t.n1) AS dnum FROM cum c JOIN tot t USING (event_type)), " +
        "top AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dnum DESC, u) AS rn FROM dn) " +
        "SELECT event_type, CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_cur, " +
        "CAST(dnum AS BIGINT) AS d_num, round(dnum / (CAST(n1 AS DOUBLE) * n2), 6) AS ks, u AS at_units " +
        // n1>0 AND n2>0: Spark's ksDrift drops groups with an empty
        // ref/cur side (KS is undefined there); the oracle must share
        // the documented drop-empty-sides contract or a one-sided
        // event_type would diverge the engines (r13 ADVICE)
        "FROM top WHERE rn = 1 AND n1 > 0 AND n2 > 0 ORDER BY event_type"),
    // first/last seen over the µs-truncated event time (epoch_us rule,
    // q85's midpoint); is_new = zero occurrences before the midpoint
    "q88_first_seen" ->
      ("WITH m AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events) " +
        "SELECT event_type || '|' || CAST(user_id % 500 AS VARCHAR) AS item, " +
        "min(epoch_us(ts)) AS first_seen, max(epoch_us(ts)) AS last_seen, count(*) AS cnt, " +
        "count(CASE WHEN epoch_us(ts) < (SELECT mid FROM m) THEN 1 END) = 0 AS is_new " +
        "FROM events GROUP BY 1 ORDER BY is_new DESC, first_seen DESC, item"),
    // brute-force cosine pairs (q45 formulation) → recursive transitive
    // closure (q67/q80 pattern) → drop non-representatives, ship ids
    "q89_semantic_dedup" -> {
      val pairCos = cosSql.replace("p.embedding", "a.embedding")
        .replace("e.embedding", "b.embedding")
      "WITH RECURSIVE " +
        s"pairs AS (SELECT a.vec_id da, b.vec_id db FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id WHERE a.vec_id < 1000 AND b.vec_id < 1000 AND $pairCos >= 0.9), " +
        "edges AS (SELECT da x, db y FROM pairs UNION ALL SELECT db, da FROM pairs), " +
        "reach(node, lbl) AS (SELECT x, x FROM (SELECT DISTINCT x FROM edges) t UNION SELECT e.x, r.lbl FROM edges e JOIN reach r ON e.y = r.node), " +
        "lbls AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node) " +
        "SELECT vec_id FROM embeddings WHERE vec_id < 1000 " +
        "AND vec_id NOT IN (SELECT node FROM lbls WHERE node <> lbl) ORDER BY vec_id"
    },
    // the cluster labels APPLIED: non-representative members dropped,
    // unpaired documents untouched — the corpus a dedup pass ships
    "q80_dedup_apply" ->
      (s"WITH RECURSIVE $dedupClosureCtes, " +
        "lbls AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node) " +
        "SELECT lang, count(*) AS n_docs, CAST(sum(len(string_split(text,' '))) AS BIGINT) AS tokens " +
        "FROM documents WHERE doc_id NOT IN (SELECT node FROM lbls WHERE node <> lbl) " +
        "GROUP BY lang ORDER BY lang"),
    // DuckDB regexp_replace needs the 'g' flag — default replaces only
    // the FIRST match, Spark replaces all
    "q68_redact" ->
      raw"SELECT lang, CAST(sum(len(regexp_extract_all(text, '\bcustomer\b'))) AS BIGINT) AS n_hits, CAST(sum(length(regexp_replace(text, '\bcustomer\b', '[REDACTED]', 'g'))) AS BIGINT) AS total_len FROM documents GROUP BY lang ORDER BY lang",
    "q69_repetition" ->
      "SELECT lang, count(CASE WHEN r < 0.3 THEN 1 END) AS n_repetitive, round(avg(r),4) AS avg_ratio FROM (SELECT lang, len(list_distinct(string_split(text,' ')))*1.0/len(string_split(text,' ')) r FROM documents) t GROUP BY lang ORDER BY lang",
    "q71_tfidf" ->
      "WITH tok AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS token FROM documents), tf AS (SELECT lang, token, count(*) AS tf FROM tok GROUP BY 1, 2), df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1), n AS (SELECT count(*) AS c FROM documents), scored AS (SELECT lang, token, round(tf * ln((SELECT c FROM n) * 1.0 / df), 4) AS score FROM tf JOIN df USING (token)) SELECT lang, token, score, rn FROM (SELECT lang, token, score, row_number() OVER (PARTITION BY lang ORDER BY score DESC, token) AS rn FROM scored) t WHERE rn <= 3 ORDER BY lang, rn",
    // thresholds generated from SampleRates — one source of truth
    "q72_stratified_sample" -> {
      val whens = SampleRates.map { case (lang, rate) =>
        s"WHEN lang = '$lang' THEN ${math.floor(rate * 65536).toInt}"
      }.mkString(" ")
      s"SELECT lang, count(*) AS n_kept FROM documents WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS INTEGER) < (CASE $whens ELSE ${math.floor(SampleDefaultRate * 65536).toInt} END) GROUP BY lang ORDER BY lang"
    },
    "q73_latest_wins" ->
      "SELECT user_id, last_type, last_value, last_us FROM (SELECT user_id, event_type AS last_type, round(value, 4) AS last_value, epoch_us(ts) AS last_us, row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events) t WHERE rn = 1 ORDER BY user_id",
    "q74_histogram" ->
      "SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bin, count(*) AS cnt FROM events GROUP BY 1, 2 ORDER BY 1, 2",
    // same band/hamming arithmetic as the Spark side, generated from the
    // shared SimHashBands constant over the shared per-doc CTE chain
    "q75_simhash_neardup" -> {
      val bandEq = (0 until Dedup.SimHashBands)
        .map(i => s"substr(a.sh,${1 + 4 * i},4) = substr(b.sh,${1 + 4 * i},4)")
        .mkString(" OR ")
      val ham = (0 until Dedup.SimHashBands)
        .map(i => s"bit_count(xor(CAST(concat('0x', substr(a.sh,${1 + 4 * i},4)) AS BIGINT), CAST(concat('0x', substr(b.sh,${1 + 4 * i},4)) AS BIGINT)))")
        .mkString(" + ")
      s"WITH $simHashDocCtes SELECT a.doc_id AS da, b.doc_id AS db, CAST($ham AS BIGINT) AS hamming FROM f a JOIN f b ON a.doc_id < b.doc_id WHERE ($bandEq) AND $ham <= 16 ORDER BY da, db"
    },
    "q77_weighted_sample" ->
      "SELECT lang, count(*) AS n_kept FROM documents WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS INTEGER) < least(1.0, greatest(0.0, (length(text)-length(replace(text,' ',''))+1)/100.0)) * 65536.0 GROUP BY lang ORDER BY lang",
    "q81_sql_variable" ->
      "SELECT o_orderkey, round(o_totalprice, 4) AS tp FROM orders WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders) ORDER BY o_orderkey",
    // score formula generated from TextAnalysis constants (stopword
    // list, punct class, weights) — the engines cannot drift
    "q82_quality_score" ->
      s"SELECT lang, count(*) AS n_docs, round(avg(score), 4) AS avg_score, CAST(sum(CASE WHEN score >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_high FROM (SELECT lang, $qualityScoreSql AS score FROM documents) t GROUP BY lang ORDER BY lang",
    // the interleave fragment is generated by the SAME loop as the Spark
    // Column (Pipeline.zorderKeySql) — the engines cannot drift
    "q93_zorder_key" ->
      (s"SELECT event_id, zx, zy, ${Pipeline.zorderKeySql("zx", "zy")} AS zkey " +
        "FROM (SELECT event_id, least(greatest(CAST(floor(value) AS BIGINT), 0), 511) AS zx, " +
        "(epoch_us(ts) // 86400000000) % 512 AS zy FROM events) t " +
        "ORDER BY zkey, event_id"),

    // same integer HDR bucket arithmetic as Pipeline.hdrSketch/
    // hdrQuantiles: u = max(floor(value*100),1); bucket = bitlen*16 +
    // top-4-bits; rank threshold ceil(n*p/100) as (n*p+99)//100 — no
    // transcendentals, so the sketches are bit-identical cross-engine
    "q91_quantile_sketch" ->
      ("WITH v AS (SELECT event_type, greatest(CAST(floor(value*100) AS BIGINT), 1) AS u FROM events), " +
        "b AS (SELECT event_type, length(bin(u))*16 + (u >> greatest(length(bin(u))-4, 0)) AS bucket FROM v), " +
        "sk AS (SELECT event_type, bucket, count(*) AS cnt FROM b GROUP BY 1, 2), " +
        "c AS (SELECT event_type, bucket, cnt, sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum, sum(cnt) OVER (PARTITION BY event_type) AS n FROM sk), " +
        "l AS (SELECT *, ((bucket % 16) << CAST(greatest(bucket // 16 - 4, 0) AS INT)) AS lb FROM c) " +
        "SELECT event_type, CAST(max(n) AS BIGINT) AS n_rows, " +
        "min(CASE WHEN cum >= (n*50 + 99) // 100 THEN lb END)/100.0 AS p50, " +
        "min(CASE WHEN cum >= (n*95 + 99) // 100 THEN lb END)/100.0 AS p95, " +
        "min(CASE WHEN cum >= (n*99 + 99) // 100 THEN lb END)/100.0 AS p99 " +
        "FROM l GROUP BY event_type ORDER BY event_type"),

    // the full q90 pipeline replayed in SQL: quality gate (same rounded
    // score arithmetic as q82), exact dedup (min id per text), fuzzy
    // dedup closure over the SURVIVING corpus (the shared recursive CTE
    // chain re-sourced at c0), epoch-shuffle key (q86's md5 ordering)
    "q90_prepare_corpus" ->
      (s"WITH RECURSIVE gated AS (SELECT doc_id, text, lang FROM (SELECT doc_id, text, lang, $qualityScoreSql AS score FROM documents) s WHERE score >= ${Pipeline.PrepQualityThreshold}), " +
        "c0 AS (SELECT doc_id, text, lang FROM gated WHERE doc_id IN (SELECT min(doc_id) FROM gated GROUP BY text)), " +
        dedupClosureCtesFrom("c0") + ", " +
        "lbls AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node) " +
        "SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':7') AS shuffle_key, lang, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok " +
        "FROM c0 WHERE doc_id NOT IN (SELECT node FROM lbls WHERE node <> lbl) " +
        "ORDER BY shuffle_key, doc_id"),
    // same stride arithmetic as chunkDocuments(40, 10); DuckDB list
    // slicing is INCLUSIVE and clamps at the list end
    "q79_chunking" ->
      "SELECT doc_id, CAST((s - 1) // 30 AS BIGINT) AS chunk_id, CAST(len(ws[s : s + 39]) AS BIGINT) AS n_tok, md5(array_to_string(ws[s : s + 39], ' ')) AS chunk_md5 FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1, 30)) AS s FROM (SELECT doc_id, string_split(text,' ') AS ws FROM documents) t0) t ORDER BY doc_id, chunk_id",
    // approx sketches are engine-specific; the CONTRACT is the 5%
    // tolerance, computed Spark-side (q34 pattern)
    "q78_sketch_table" ->
      "SELECT event_type, true AS ok FROM events GROUP BY 1 ORDER BY 1",
    // q188: session islands + per-session first_value, both engines
    // ordering (us, event_id)
    "q188_attribution" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us FROM events), " +
        "s AS (SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS brk " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), " +
        "t AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM s), " +
        "t2 AS (SELECT user_id, sid, event_type, value, " +
        "first_value(event_type) OVER (PARTITION BY user_id, sid ORDER BY us, event_id) AS channel FROM t), " +
        "conv AS (SELECT channel, user_id, sid, count(*) AS n_conv, sum(value) AS rev " +
        "FROM t2 WHERE event_type='purchase' GROUP BY 1,2,3) " +
        "SELECT channel, CAST(count(*) AS BIGINT) AS n_sessions, CAST(sum(n_conv) AS BIGINT) AS n_conversions, " +
        "round(avg(rev/n_conv),4) AS avg_conv_value FROM conv GROUP BY 1 ORDER BY 1"),
    // q189: containment via the delimited LIKE — equivalent to the
    // adjacency join on space-tokenized text
    "q189_phrase_search" ->
      ("SELECT doc_id FROM documents WHERE ' '||text||' ' LIKE '% slow query %' ORDER BY doc_id"),
    // q190/q191: positional postings via the q65 struct comprehension;
    // q190 checks |Δpos| ≤ 3, q191 counts every adjacency start
    "q190_proximity" ->
      ("WITH d AS (SELECT doc_id, string_split(text,' ') w FROM documents), " +
        "p AS (SELECT doc_id, unnest([{'pos': i-1, 'tok': w[i]} for i in range(1, len(w)+1)], recursive := true) FROM d), " +
        "a AS (SELECT doc_id, pos FROM p WHERE tok='hash'), " +
        "b AS (SELECT doc_id, pos FROM p WHERE tok='join') " +
        "SELECT DISTINCT a.doc_id AS doc_id FROM a JOIN b ON a.doc_id=b.doc_id AND abs(a.pos-b.pos)<=3 ORDER BY a.doc_id"),
    // q192: same capped vectors both sides; the threshold compares the
    // identical dot/sqrt(n2a*n2b) expression (exact-integer inputs)
    "q192_lexical_cosine" ->
      ("WITH tf AS (SELECT doc_id, tok, count(*) AS tf FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents) GROUP BY 1,2), " +
        "keep AS (SELECT tok FROM tf GROUP BY tok HAVING count(*) <= 400), " +
        "tfc AS (SELECT tf.* FROM tf JOIN keep USING (tok)), " +
        "n AS (SELECT doc_id, sum(tf*tf) AS n2 FROM tfc GROUP BY 1), " +
        "p AS (SELECT a.doc_id AS da, b.doc_id AS db, sum(a.tf*b.tf) AS dot FROM tfc a JOIN tfc b ON a.tok=b.tok AND a.doc_id<b.doc_id GROUP BY 1,2) " +
        "SELECT da, db, round(dot / sqrt(na.n2*nb.n2), 6) AS sim " +
        "FROM p JOIN n na ON p.da=na.doc_id JOIN n nb ON p.db=nb.doc_id " +
        "WHERE dot / sqrt(na.n2*nb.n2) >= 0.8 ORDER BY da, db"),
    // q199: same split, same vocabulary-restriction rule, exact
    // integer dot/norms so the 0.8 threshold sits on the raw double
    "q199_cosine_match" ->
      ("WITH ctf AS (SELECT doc_id, tok, count(*) AS tf FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents WHERE doc_id >= 20) GROUP BY 1,2), " +
        "keep AS (SELECT tok FROM ctf GROUP BY tok HAVING count(*) <= 400), " +
        "itf AS (SELECT ctf.* FROM ctf JOIN keep USING (tok)), " +
        "inorm AS (SELECT doc_id, sum(tf*tf) AS n2 FROM itf GROUP BY 1), " +
        "vocab AS (SELECT DISTINCT tok FROM itf), " +
        "ptf0 AS (SELECT doc_id, tok, count(*) AS tf FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents WHERE doc_id < 20) GROUP BY 1,2), " +
        "ptf AS (SELECT ptf0.* FROM ptf0 JOIN vocab USING (tok)), " +
        "pnorm AS (SELECT doc_id, sum(tf*tf) AS n2 FROM ptf GROUP BY 1), " +
        "d AS (SELECT p.doc_id AS probe_id, i.doc_id AS corpus_id, sum(p.tf*i.tf) AS dot FROM ptf p JOIN itf i USING (tok) GROUP BY 1,2) " +
        "SELECT probe_id, corpus_id, round(dot/sqrt(pn.n2*inn.n2),6) AS sim " +
        "FROM d JOIN pnorm pn ON d.probe_id=pn.doc_id JOIN inorm inn ON d.corpus_id=inn.doc_id " +
        "WHERE dot/sqrt(pn.n2*inn.n2) >= 0.8 ORDER BY probe_id, corpus_id"),
    // q209: q118's edge CTEs, wedge join + UNION-distinct reach,
    // rank over the 20-row cut
    "q209_two_hop" ->
      (s"WITH p AS (SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey WHERE l_quantity > 45), " +
        "e AS (SELECT a, b FROM p UNION SELECT b, a FROM p), " +
        "r AS (SELECT x.a, y.b AS c FROM e x JOIN e y ON x.b = y.a WHERE x.a <> y.b " +
        "UNION SELECT a, b FROM e WHERE a <> b), " +
        "g AS (SELECT a, count(*) AS reach FROM r GROUP BY 1) " +
        "SELECT rn, a AS node, reach FROM " +
        "(SELECT a, reach, row_number() OVER (ORDER BY reach DESC, a) AS rn FROM g) t " +
        s"WHERE rn <= $PrTopK ORDER BY rn"),
    // q208: one-row audit — element percentiles via quantile_disc
    // (q164 pairing), ceiling division spelled out in integers
    "q208_skew_audit" ->
      ("WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows, " +
        "CAST(sum(cnt) // count(*) AS BIGINT) AS avg_cnt, CAST(max(cnt) AS BIGINT) AS max_cnt, " +
        "CAST(quantile_disc(cnt, 0.5) AS BIGINT) AS p50_cnt, CAST(quantile_disc(cnt, 0.99) AS BIGINT) AS p99_cnt, " +
        "CAST((max(cnt) * count(*) + sum(cnt) - 1) // sum(cnt) AS BIGINT) AS salt_factor " +
        "FROM c"),
    // q207: identical integer moments — HUGEINT window-free CTEs,
    // the z² comparison cross-multiplied on both sides
    "q207_seasonal_anomaly" ->
      ("WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, (epoch_us(ts) // 3600000000) % 24 AS hour, CAST(round(value*100) AS BIGINT) AS cents FROM events), " +
        "b AS (SELECT day, hour, count(*) AS n, sum(cents) AS s FROM c GROUP BY 1, 2), " +
        "pf AS (SELECT hour, count(*) AS m, sum(s) AS ss, sum(s*s) AS sq FROM b GROUP BY 1) " +
        "SELECT b.day, b.hour, CAST(b.n AS BIGINT) AS n, CAST(b.s AS BIGINT) AS s_units, " +
        "(pf.m*b.s - pf.ss)*(pf.m*b.s - pf.ss) > 9*(pf.m*pf.sq - pf.ss*pf.ss) AS flagged " +
        "FROM b JOIN pf USING (hour) ORDER BY day, hour"),
    // q206: same first-purchase split, touch rank, and 10000-bp
    // integer division; credit conservation means sum(credit_bp) =
    // 10000 × converting users on both engines
    "q206_multitouch" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events), " +
        "p AS (SELECT user_id, us AS pus, event_id AS peid FROM (SELECT user_id, us, event_id, row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn FROM e WHERE event_type = 'purchase') t WHERE rn = 1), " +
        "tc AS (SELECT e.user_id, e.event_type, e.us, e.event_id FROM e JOIN p USING (user_id) WHERE e.us < p.pus OR (e.us = p.pus AND e.event_id < p.peid)), " +
        "r AS (SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn, count(*) OVER (PARTITION BY user_id) AS n FROM tc) " +
        "SELECT event_type AS channel, CAST(count(*) AS BIGINT) AS n_touches, " +
        "CAST(sum(10000 // n + CASE WHEN rn = 1 THEN 10000 % n ELSE 0 END) AS BIGINT) AS credit_bp " +
        "FROM r GROUP BY 1 ORDER BY 1"),
    // q202: q103's bigram CTEs with the integer rarity/share
    // cross-multiplications instead of ln()
    "q202_lm_rarity" ->
      ("WITH words AS (SELECT doc_id, string_split(text,' ') ws FROM documents), " +
        "bg AS (SELECT doc_id, r['w1'] AS w1, r['w2'] AS w2 FROM (SELECT doc_id, unnest([{'w1': ws[i], 'w2': ws[i+1]} for i in range(1, len(ws))]) r FROM words WHERE len(ws) >= 2) t), " +
        "c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2), " +
        "c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1) " +
        "SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
        "CAST(sum(CASE WHEN c1.c1 > 100 * c12.c12 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare, " +
        "10 * sum(CASE WHEN c1.c1 > 100 * c12.c12 THEN 1 ELSE 0 END) >= 3 * count(*) AS flagged " +
        "FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) " +
        "GROUP BY bg.doc_id ORDER BY doc_id"),
    // q205: q109's block+JW pair SQL feeding q67's recursive closure,
    // then the same survivorship rules as CTEs
    "q205_entity_resolution" ->
      (s"WITH RECURSIVE b AS (SELECT doc_id, substr(text,1,$EditPrefix) AS k, lang, string_split(text,' ')[1] AS fw FROM documents), " +
        "ok AS (SELECT lang, fw FROM b GROUP BY 1, 2 HAVING count(*) <= 100), " +
        "pr AS (SELECT a.doc_id AS a_id, c.doc_id AS b_id " +
        "FROM (SELECT b.* FROM b JOIN ok USING (lang, fw)) a " +
        "JOIN (SELECT b.* FROM b JOIN ok USING (lang, fw)) c USING (lang, fw) " +
        s"WHERE a.doc_id < c.doc_id AND round(jaro_winkler_similarity(a.k, c.k), 4) >= $JwMinSim), " +
        "edges AS (SELECT a_id x, b_id y FROM pr UNION ALL SELECT b_id, a_id FROM pr), " +
        "reach(node, lbl) AS (SELECT x, x FROM (SELECT DISTINCT x FROM edges) t UNION SELECT e.x, r.lbl FROM edges e JOIN reach r ON e.y = r.node), " +
        "cl AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node), " +
        "a2 AS (SELECT cl.lbl, d.lang, d.n_chars, d.source FROM cl JOIN documents d ON cl.node = d.doc_id), " +
        "lc AS (SELECT lbl, lang, count(*) AS c FROM a2 GROUP BY 1, 2), " +
        "cls AS (SELECT lbl, lang FROM (SELECT lbl, lang, row_number() OVER (PARTITION BY lbl ORDER BY c DESC, lang) AS r FROM lc) t WHERE r = 1) " +
        "SELECT a2.lbl AS entity_id, CAST(count(*) AS BIGINT) AS n_members, " +
        "min(cls.lang) AS canon_lang, CAST(max(a2.n_chars) AS BIGINT) AS best_len, " +
        "min(a2.source) AS first_source " +
        "FROM a2 JOIN cls ON a2.lbl = cls.lbl GROUP BY 1 ORDER BY 1"),
    // q204: the same multiplied-through integers — C_t from HUGEINT
    // window sums cast back to BIGINT; the flag picks the earliest
    // day attaining max |C|
    "q204_cusum" ->
      ("WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, CAST(round(value*100) AS BIGINT) AS cents FROM events), " +
        "d AS (SELECT day, count(*) AS n, sum(cents) AS s FROM c GROUP BY 1), " +
        "t AS (SELECT sum(n) AS nt, sum(s) AS st FROM d), " +
        "cu AS (SELECT day, n, s, sum(n) OVER w AS cn, sum(s) OVER w AS cs FROM d WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "x AS (SELECT cu.day, cu.n, cu.s, CAST(t.nt*cu.cs - cu.cn*t.st AS BIGINT) AS ct FROM cu, t) " +
        "SELECT day, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS sum_units, ct AS cum_dev, " +
        "day = (SELECT min(day) FROM x WHERE abs(ct) = (SELECT max(abs(ct)) FROM x)) AS is_changepoint " +
        "FROM x ORDER BY day"),
    // q203: q39's exact-kNN oracle shape with the label-disagreement
    // predicate in the candidate CTE; neg_label rides along
    "q203_hard_negatives" ->
      (s"WITH c AS (SELECT p.vec_id probe_id, e.vec_id neg_id, e.label neg_label, round($cosSql,4) sim " +
        "FROM embeddings p CROSS JOIN embeddings e WHERE p.vec_id < 10 AND e.label <> p.label) " +
        "SELECT probe_id, neg_id, neg_label, sim, rn FROM " +
        "(SELECT probe_id, neg_id, neg_label, sim, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neg_id) rn FROM c) " +
        "WHERE rn <= 3 ORDER BY probe_id, rn"),
    // q213: same cents sums; window-free CTE shares
    "q213_share_of_parent" ->
      ("WITH l AS (SELECT l_returnflag rf, l_linestatus ls, CAST(round(l_extendedprice*100) AS BIGINT) c FROM lineitem), " +
        "leaf AS (SELECT rf, ls, sum(c) AS rev, count(*) AS n FROM l GROUP BY 1, 2), " +
        "p AS (SELECT rf, sum(rev) AS pv FROM leaf GROUP BY 1), " +
        "t AS (SELECT sum(rev) AS tv FROM leaf) " +
        "SELECT leaf.rf, leaf.ls, CAST(leaf.n AS BIGINT) AS n, CAST(leaf.rev AS BIGINT) AS rev_cents, " +
        "round(leaf.rev / p.pv, 6) AS share_of_flag, round(leaf.rev / t.tv, 6) AS share_of_total " +
        "FROM leaf JOIN p USING (rf), t ORDER BY rf, ls"),
    // q212: same per-key counts; HUGEINT squares cast back
    "q212_join_preflight" ->
      ("WITH c AS (SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY 1) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_keys, " +
        "CAST(sum(n*n) AS BIGINT) AS join_rows, " +
        "CAST(max(n*n) AS BIGINT) AS hot_key_rows, " +
        "CAST(10000 * max(n*n) // sum(n*n) AS BIGINT) AS hot_share_bp " +
        "FROM c"),
    // q211: the same rules as UNION ALL branches; NOT(rule) counts
    // only FALSE (null is not a violation on either engine)
    "q211_expectations" ->
      ("SELECT rule, n_violations, n_violations = 0 AS pass FROM (" +
        "SELECT 'discount_range' AS rule, CAST(count(CASE WHEN NOT (l_discount >= 0.0 AND l_discount <= 1.0) THEN 1 END) AS BIGINT) AS n_violations FROM lineitem " +
        "UNION ALL SELECT 'flag_domain', CAST(count(CASE WHEN NOT (l_returnflag IN ('A','N','R')) THEN 1 END) AS BIGINT) FROM lineitem " +
        "UNION ALL SELECT 'price_positive', CAST(count(CASE WHEN NOT (l_extendedprice > 0.0) THEN 1 END) AS BIGINT) FROM lineitem " +
        "UNION ALL SELECT 'qty_range', CAST(count(CASE WHEN NOT (l_quantity >= 1.0 AND l_quantity <= 50.0) THEN 1 END) AS BIGINT) FROM lineitem " +
        "UNION ALL SELECT 'ship_not_null', CAST(count(CASE WHEN l_shipdate IS NULL THEN 1 END) AS BIGINT) FROM lineitem " +
        "UNION ALL SELECT 'line_key_unique', CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) FROM lineitem" +
        ") t ORDER BY rule"),
    // q210: exact distinct counts data-bearing, the estimate as the
    // q78 tolerance literal
    "q210_rollup_distinct" ->
      ("SELECT epoch_us(ts) // 86400000000 AS day, event_type, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact, true AS ok " +
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    // q201: the oracle recomputes the rollup from scratch over ALL
    // events — store-then-append-then-merge must equal one aggregate;
    // cnt/min/max exact, the mean rounded (magnitude rule)
    "q201_rollup_merge" ->
      ("WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, event_type, " +
        "CAST(round(value*100) AS BIGINT) AS cents FROM events) " +
        "SELECT day, event_type, CAST(count(*) AS BIGINT) AS cnt, " +
        "CAST(sum(cents) AS BIGINT) AS sum_cents, " +
        "CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents, " +
        "min(cents) / 100.0 AS min_v, max(cents) / 100.0 AS max_v " +
        "FROM c GROUP BY 1, 2 ORDER BY 1, 2"),
    // q193: DuckDB's ntile follows the same remainder rule the
    // arithmetic recovery implements (q149 precedent)
    "q193_equidepth" ->
      ("WITH r AS (SELECT l_extendedprice AS p, ntile(8) OVER (ORDER BY l_extendedprice) AS bin FROM lineitem) " +
        "SELECT bin, CAST(count(*) AS BIGINT) AS n, min(p) AS lo, max(p) AS hi " +
        "FROM r GROUP BY 1 ORDER BY 1"),
    // q195: same BETWEEN join; integer band ids and counts
    "q195_band_join" ->
      ("WITH bands AS (SELECT band, band*11000.0 AS lo, (band+2)*11000.0 AS hi FROM (SELECT unnest(range(0,10)) AS band)) " +
        "SELECT band, CAST(count(*) AS BIGINT) AS n FROM lineitem JOIN bands " +
        "ON l_extendedprice >= lo AND l_extendedprice <= hi GROUP BY 1 ORDER BY 1"),
    // q194: integer cents → exact .0/.5 medians; threshold cannot flip
    "q194_mad_outliers" ->
      ("WITH v AS (SELECT l_returnflag AS grp, CAST(round(l_extendedprice*100) AS BIGINT) AS c FROM lineitem), " +
        "m AS (SELECT grp, quantile_cont(c, 0.5) AS med FROM v GROUP BY 1), " +
        "dv AS (SELECT v.grp, abs(v.c - m.med) AS dev FROM v JOIN m USING (grp)), " +
        "md AS (SELECT grp, quantile_cont(dev, 0.5) AS mad FROM dv GROUP BY 1) " +
        "SELECT dv.grp AS grp, CAST(sum(CASE WHEN dv.dev > 4.4478*md.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers, " +
        "round(sum(CASE WHEN dv.dev > 4.4478*md.mad THEN 1 ELSE 0 END) / count(*), 6) AS share " +
        "FROM dv JOIN md USING (grp) GROUP BY 1 ORDER BY 1"),
    "q191_phrase_freq" ->
      ("WITH d AS (SELECT doc_id, lang, string_split(text,' ') w FROM documents), " +
        "p AS (SELECT doc_id, lang, unnest([{'pos': i-1, 'tok': w[i]} for i in range(1, len(w)+1)], recursive := true) FROM d), " +
        "a AS (SELECT doc_id, lang, pos FROM p WHERE tok='slow'), " +
        "b AS (SELECT doc_id, pos FROM p WHERE tok='query') " +
        "SELECT a.lang, CAST(count(*) AS BIGINT) AS n_occ FROM a JOIN b ON a.doc_id=b.doc_id AND b.pos=a.pos+1 " +
        "GROUP BY 1 ORDER BY 1"),
    // q187: exact day-pair audience counts; the sketch tolerance check
    // is Spark-side (q78 contract pattern)
    "q187_sketch_retention" ->
      ("WITH du AS (SELECT DISTINCT epoch_us(ts)//86400000000 AS day, user_id FROM events), " +
        "n AS (SELECT day, CAST(count(*) AS BIGINT) AS nd FROM du GROUP BY 1), " +
        "ov AS (SELECT a.day, CAST(count(*) AS BIGINT) AS ovl FROM du a " +
        "JOIN du b ON b.user_id=a.user_id AND b.day=a.day+1 GROUP BY 1) " +
        "SELECT a.day, a.nd AS na, b.nd AS nb, ov.ovl AS ovl, true AS ok " +
        "FROM n a JOIN n b ON b.day=a.day+1 JOIN ov ON ov.day=a.day ORDER BY 1"),
    "q76_pmi_bigrams" ->
      ("WITH w AS (SELECT string_split(text,' ') ws FROM documents), " +
        "bi AS (SELECT r['w1'] AS w1, r['w2'] AS w2, count(*) AS c_ab FROM (SELECT unnest([{'w1': ws[i], 'w2': ws[i+1]} for i in range(1, len(ws))]) r FROM w) t GROUP BY 1, 2 HAVING count(*) >= 5), " +
        "uni AS (SELECT unnest(ws) AS w FROM w), " +
        "cnt AS (SELECT w, count(*) AS c_w FROM uni GROUP BY 1), " +
        "n AS (SELECT count(*) AS c FROM uni) " +
        "SELECT w1, w2, c_ab, round(ln(c_ab * (SELECT c FROM n) * 1.0 / (ca.c_w * cb.c_w)), 4) AS pmi " +
        "FROM bi JOIN cnt ca ON bi.w1 = ca.w JOIN cnt cb ON bi.w2 = cb.w " +
        "ORDER BY pmi DESC, w1, w2 LIMIT 20"),
    // the same statement text, modulo view names — the whole point
    "q70_sql_subquery" ->
      "SELECT o_orderkey, round(o_totalprice, 4) AS tp FROM orders o WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders) AND EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 0) ORDER BY o_orderkey",
    "q62_unpivot" ->
      "SELECT l_returnflag, name, val FROM (SELECT l_returnflag, round(sum(l_quantity),4) qty, round(sum(l_discount),4) disc FROM lineitem GROUP BY 1) UNPIVOT (val FOR name IN (qty, disc)) ORDER BY l_returnflag, name",
    // q198: DuckDB runs the same LATERAL text (views drop the _v)
    "q198_lateral" ->
      ("SELECT c.c_custkey, t.o_orderkey, t.o_totalprice FROM customer c, " +
        "LATERAL (SELECT o_orderkey, o_totalprice FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t " +
        "WHERE c.c_custkey <= 500 ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey"),
    "q63_range_frame" ->
      "SELECT event_id, round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),4) AS w1h FROM events ORDER BY event_id",
    "q64_value_windows" ->
      "SELECT event_id, first_value(event_id) OVER w AS f, nth_value(event_id, 2) OVER w AS n2, coalesce(nullif(event_type,'click'),'CLK') AS cc FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ORDER BY event_id",
    "q65_posexplode" ->
      "SELECT doc_id, r['pos'] AS pos, r['tok'] AS tok FROM (SELECT doc_id, unnest([{'pos': i-1, 'tok': words[i]} for i in range(1, len(words)+1)]) r FROM (SELECT doc_id, string_split(text,' ') words FROM documents WHERE doc_id < 20) t1) t2 ORDER BY doc_id, pos",
    "q66_grouping_id" ->
      "SELECT l_returnflag, l_linestatus, CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS g, count(*) AS cnt FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) ORDER BY g DESC, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST",
    "q59_stats_agg" ->
      "SELECT l_returnflag, round(corr(l_quantity, l_extendedprice),6) AS c, round(covar_samp(l_quantity, l_extendedprice),4) AS cv, round(stddev_samp(l_quantity),6) AS sd FROM lineitem GROUP BY 1 ORDER BY 1",
    "q60_collect_sorted" ->
      "SELECT event_type, array_to_string(list_sort(list(DISTINCT user_id % 50))[1:5], ',') AS top FROM events GROUP BY 1 ORDER BY 1",
    "q61_regexp" ->
      raw"SELECT p_partkey, regexp_extract(p_name,'^(\w+)',1) AS fw, regexp_replace(p_brand,'#','-') AS b2, regexp_matches(p_type,'BRASS$$') AS ib FROM part ORDER BY p_partkey",
    "q56_contamination" -> contaminationOracleSql,
    // bloom gate + exact verify ≡ exact screen (no false negatives):
    // the scale path answers to the SAME oracle, by construction
    "q92_bloom_contamination" -> contaminationOracleSql,
    "q47_window_distribution" ->
      "SELECT event_type, tile, count(*) cnt, round(max(pr),6) mpr, round(max(cd),6) mcd FROM (SELECT event_type, ntile(4) OVER w tile, percent_rank() OVER w pr, cume_dist() OVER w cd FROM events WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)) t GROUP BY event_type, tile ORDER BY event_type, tile",
    "q48_string_more" ->
      "SELECT p_partkey, lpad(p_brand,12,'0') lp, rpad(p_brand,12,'_') rp, reverse(p_name) rev, split_part(p_type,' ',1) t1, left(p_name,3) l3, right(p_name,3) r3, trim(concat(' ',p_brand,' ')) tr FROM part ORDER BY p_partkey",
    "q49_math_fns" ->
      "SELECT l_orderkey, l_linenumber, round(power(l_quantity,2),4) p2, round(ln(l_quantity+1),6) lg, CAST(sign(l_discount - 0.05) AS BIGINT) sg, l_orderkey % 7 md, CAST(floor(l_quantity) AS BIGINT) fl, round(sqrt(l_extendedprice),6) sq FROM lineitem WHERE l_orderkey < 100 ORDER BY l_orderkey, l_linenumber",
    "q50_date_more" ->
      "SELECT o_orderkey, last_day(CAST(o_orderdate AS DATE)) ld, CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) dd, CAST(date_part('doy', o_orderdate) AS BIGINT) doy, CAST(date_part('dow', o_orderdate) AS BIGINT) dow FROM orders ORDER BY o_orderkey",
    // same union+window formulation as the Spark operator (ties: clicks
    // before errors at equal ts, then by event id). NULLS FIRST pins the
    // null-ts ordering to Spark's default (nulls sort first ascending) —
    // DuckDB defaults to NULLS LAST in window ORDER BY, which would
    // attach the LAST click to a null-ts error instead of none. events.ts
    // is never null today; this guards the formulation, not the data.
    "q46_asof_join" ->
      "WITH u AS (SELECT user_id, ts, event_id, CASE WHEN event_type='click' THEN event_id END cid, CASE WHEN event_type='error' THEN 1 ELSE 0 END is_err FROM events WHERE event_type IN ('click','error')) SELECT event_id, click_id FROM (SELECT event_id, is_err, last_value(cid IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, CASE WHEN cid IS NULL THEN 1 ELSE 0 END, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) click_id FROM u) t WHERE is_err=1 ORDER BY event_id"
  )
}
