package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Materialize, QueryDef, Tables}
import graft.functions.GraftFunctions
import graft.operators.{Dedup, TextOps}

/** Text-analysis pipeline demos over the `documents` table (the
  * training-data surface: token counting, language ID, quality scoring,
  * fingerprinting). All four are pure codegen'd column expressions —
  * no shuffle except final sort — and every one is DuckDB-oracle
  * hash-matched, including the 64-bit rolling hash (recomputed oracle-
  * side with 128-bit ints mod 2^64). */
object TextQueries {

  // DuckDB mirror of TextOps.markerCount (regexp_count ≡ len(extract_all)).
  private def duckMarker(lang: String): String =
    s"len(regexp_extract_all(lower(text), '\\b(${TextOps.LangMarkers(lang).mkString("|")})\\b'))"

  private val duckScored = TextOps.LangMarkers.keys.toSeq.sorted
    .map(l => s"lpad(CAST(${duckMarker(l)} AS VARCHAR), 6, '0') || '$l'")
    .mkString("greatest(", ", ", ")")

  /** The tx_rarity plan over tokenized docs `(doc_id, w)`: the
    * vocabulary-sized df table is BROADCAST into the occurrence join,
    * so token occurrences never shuffle on `tok` — stop-words are
    * extreme hot keys and would concentrate whole shuffle partitions;
    * the df side is one row per distinct token, exactly the
    * broadcast-dimension shape. The only wide exchange left is the
    * uniform groupBy(doc_id). PlanSpec pins the BroadcastHashJoin. */
  def rarityPlan(docs: DataFrame): DataFrame =
    rarityScoreWith(docs, graft.operators.TextOps.dfTable(docs))

  /** The scoring half of [[rarityPlan]] against an EXISTING df table —
    * the steady-state form where the corpus statistic is a persisted
    * artifact ([[graft.sources.Models.dfTable]]). */
  def rarityScoreWith(docs: DataFrame, df: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(col("w")).as("tok"))
      .join(broadcast(df), "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("df").as("df_sum"))
      .select(col("doc_id"), col("n_tokens"),
        (col("df_sum").cast("double") / col("n_tokens").cast("double"))
          .as("mean_df"))
      .orderBy("doc_id")

  /** DuckDB replay of [[rarityPlan]] — ONE spelling for `tx_rarity`
    * (df derived per run) and `tx_rarity_indexed` (persisted df): the
    * oracle always retrains, so the indexed entry's match proves
    * reload == retrain. */
  private val rarityOracleSql =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
      |  FROM documents),
      |df AS (
      |  SELECT tok, count(*) AS df FROM (
      |    SELECT unnest(list_distinct(w)) AS tok FROM w)
      |  GROUP BY tok),
      |occ AS (SELECT doc_id, unnest(w) AS tok FROM w)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(CAST(sum(df) AS BIGINT) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS mean_df
      |FROM occ JOIN df USING (tok)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** BM25 retrieval (Robertson/Spärck Jones; k1=1.2, b=0.75) — the
    * lexical ranking a training-data platform runs for targeted corpus
    * queries (find documents about X for curation/inspection). Scores
    * the corpus against a DETERMINISTIC query term set (the df table's
    * ranks 11-15 by (df DESC, tok) — mid-frequency terms, derivable
    * identically by the oracle) and returns the top-`k` docs.
    *
    * Cross-engine exactness: idf = ln((N−df+0.5)/(df+0.5)) is spelled
    * ln(2(N−df)+1) − ln(2df+1) — both log arguments EXACT integers, so
    * engines differ only by libm ulps; the tf normalizer's only
    * division is (dl·N)/S on exact ints (one IEEE-exact-rounded op);
    * the per-doc sum (≤ |q| terms) is rounded to 4dp before the top-k
    * cut, so tie-breaks (score DESC, doc_id) are engine-independent.
    *
    * Plan shape: the query-term table (|q| rows) and the df dimension
    * BROADCAST; token occurrences are cut to query-term hits AT the
    * explode (broadcast semi-shape join — the corpus never shuffles on
    * `tok`); the only wide exchanges are the uniform doc_id joins and
    * the global top-k (`TakeOrderedAndProject`). */
  def bm25With(docs: DataFrame, df: DataFrame, qTerms: DataFrame,
      k: Int = 20): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(col("w")).as("tok"))
      .join(broadcast(qTerms.select("tok")), "tok")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    bm25Score(tf, df,
      docs.select(col("doc_id"), size(col("w")).cast("long").as("dl")), k)
  }

  /** The BM25 arithmetic and top-`k` cut over query-term `(doc_id, tok,
    * tf)` rows, the `(tok, df)` table and the `(doc_id, dl)` lengths —
    * one spelling for the retrain ([[bm25With]]) and artifact-served
    * ([[bm25FromArtifacts]]) entries. */
  private def bm25Score(tf: DataFrame, df: DataFrame, lens: DataFrame,
      k: Int): DataFrame = {
    val tot = lens.agg(count(lit(1)).as("nn"), sum("dl").as("s"))
    tf
      .join(broadcast(df), "tok")
      .join(lens, "doc_id")
      .crossJoin(broadcast(tot))
      .withColumn("idf",
        log((lit(2L) * (col("nn") - col("df")) + lit(1L)).cast("double")) -
          log((lit(2L) * col("df") + lit(1L)).cast("double")))
      .withColumn("t",
        col("idf") * (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + (lit(0.3) + lit(0.9) *
            ((col("dl") * col("nn")).cast("double") /
              col("s").cast("double")))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), sum("t").as("sc"))
      .select(col("doc_id"), col("n_hits"), round(col("sc"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** The deterministic BM25 demo query: the df table's ranks 11-15 by
    * (df DESC, tok) — mid-frequency, so the top-k is discriminative
    * at every scale factor. */
  def bm25QueryTerms(df: DataFrame): DataFrame =
    df.orderBy(col("df").desc, col("tok")).offset(10).limit(5)
      .select("tok")

  /** BM25 served ENTIRELY from the persisted retrieval artifacts of
    * `corpusDir` — tf from the tok-bucketed postings, dl from the
    * stored length table, df/q from the stored df table; scored by the
    * same [[bm25Score]] as [[bm25With]]. */
  def bm25FromArtifacts(s: org.apache.spark.sql.SparkSession,
      corpusDir: String): DataFrame = {
    // first use on a corpus: derive all three artifacts in ONE
    // tokenize pass (a no-op when they already exist)
    graft.sources.Models.buildRetrievalArtifacts(s, corpusDir)
    val df = graft.sources.Models.dfTable(s, corpusDir)
    val lens = graft.sources.Models.docLens(s, corpusDir)
    bm25Score(graft.sources.Models.postings(s, corpusDir)
      .join(broadcast(bm25QueryTerms(df)), "tok"), df, lens, 20)
  }

  /** The scripted maintenance DAY the two ledger queries share
    * (round 19, r18 verdict item 3 — pre-r19 `maint_history` and
    * `maint_rollup` each re-ran the same script, the two slowest
    * registry entries): base artifacts from the memoized "retr_cc"
    * scene, two narrow (~4%) daily folds, a compaction, a vacuum —
    * all with event recording ON — run ONCE per (JVM, corpus) into a
    * run-private dir whose ledger both queries then read. The script
    * is deterministic, so sharing is bit-identical to re-running (the
    * Scenes memoization argument, one level up); the mutation under
    * test — each applied operation logged exactly once, in order,
    * with the right counts — is the LEDGER, which every read replays
    * against the same oracle. The artifacts stay alive for the JVM
    * (bench passes re-read them) and are reclaimed at JVM exit: the
    * temp dir and the model root (which lives under the models base,
    * keyed by this dir) both by [[SourceQueries.deleteAtExit]]. */
  private val maintDayDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def maintDay(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    maintDayDirs.computeIfAbsent(d, _ => {
      val tmp = SourceQueries.tempDir("graft_maint_day")
      val docs = Tables.documents(s, d)
      val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
      graft.sources.MaintenanceLog.enable(graft.sources.Models.root(tmp))
      graft.sources.Scenes.cloneScene(s, d, "retr_cc", tmp,
        params = "slice<cc") { c =>
        graft.sources.Models.buildRetrievalArtifacts(s, c,
          docs = Some(docs.filter(h < "cc")))
      }
      graft.sources.Models.postingsAppend(s, tmp,
        docs.filter(h >= "cc" && h < "d6").select("doc_id", "text"),
        "doc_id", "text", dedupeIds = true)
      graft.sources.Models.postingsAppend(s, tmp,
        docs.filter(h >= "d6" && h < "e0").select("doc_id", "text"),
        "doc_id", "text", dedupeIds = true)
      graft.sources.Models.compactRetrievalIndexes(s, tmp)
      graft.sources.Models.vacuum(s, tmp, minAgeMs = 0L)
      SourceQueries.deleteAtExit(graft.sources.Models.root(tmp))
      tmp
    })

  /** Shared DuckDB replay of [[bm25With]] over `tfSrc`/`df`/`q` CTEs —
    * the same spelling serves the retrain, indexed, and postings
    * entries (they differ only in WHERE the statistics come from). */
  private[queries] val bm25OracleSql =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
      |  FROM documents),
      |df AS (
      |  SELECT tok, count(*) AS df FROM (
      |    SELECT unnest(list_distinct(w)) AS tok FROM w)
      |  GROUP BY tok),
      |q AS (SELECT tok FROM df ORDER BY df DESC, tok LIMIT 5 OFFSET 10),
      |lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM w),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn,
      |               CAST(sum(dl) AS BIGINT) AS s FROM lens),
      |tf AS (
      |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(w) AS tok FROM w) JOIN q USING (tok)
      |  GROUP BY 1, 2),
      |sc AS (
      |  SELECT tf.doc_id,
      |    (ln(CAST(2*(nn - df) + 1 AS DOUBLE))
      |       - ln(CAST(2*df + 1 AS DOUBLE)))
      |    * (CAST(tf AS DOUBLE) * 2.2)
      |    / (CAST(tf AS DOUBLE) + (0.3 + 0.9 *
      |        (CAST(dl * nn AS DOUBLE) / CAST(s AS DOUBLE)))) AS t
      |  FROM tf JOIN df USING (tok)
      |  JOIN lens ON tf.doc_id = lens.doc_id
      |  CROSS JOIN tot)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
      |       round(sum(t), 4) AS score
      |FROM sc GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** The deterministic phrase/proximity demo query: the corpus's most
    * frequent ADJACENT token bigram by (count DESC, w1, w2). One
    * zero-shuffle scan-stage pair explode plus a bigram-keyed
    * aggregate whose output is vocabulary²-bounded, derivable
    * identically by the oracle (exact integer counts, total
    * tie-break). */
  def topBigram(docs: DataFrame): DataFrame =
    docs.filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(slice(w, 1, size(w) - 1), " +
          "(x, i) -> struct(x AS w1, w[i + 1] AS w2))")).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w1"), col("w2")).limit(1)
      .select("w1", "w2")

  /** Per-doc `(doc_id, p1, p2)` position arrays for the (1-row,
    * broadcast) phrase's two terms, from the positional postings
    * index: two broadcast probes of the tok-bucketed index (the index
    * side never shuffles on `tok`), then one uniform doc_id join
    * between the two term hit-lists — the only wide exchange, sized by
    * matching docs, not the corpus. */
  private def phrasePositions(pp: DataFrame,
      phrase: DataFrame): DataFrame = {
    val p1 = pp.join(broadcast(phrase.select(col("w1").as("tok"))), "tok")
      .select(col("doc_id"), col("positions").as("p1"))
    val p2 = pp.join(broadcast(phrase.select(col("w2").as("tok"))), "tok")
      .select(col("doc_id"), col("positions").as("p2"))
    p1.join(p2, "doc_id")
  }

  /** Exact-phrase matches per document from the positional postings:
    * `|{p ∈ positions(w1) : p+1 ∈ positions(w2)}|` — a per-row array
    * intersection (positions within a row are distinct and sorted), no
    * text re-scan, no per-occurrence explode. Top-`k` docs by
    * (matches DESC, doc_id); exact integer counts, so the oracle — a
    * full retokenize with an adjacency scan — hash-matches. */
  def phraseMatches(pp: DataFrame, phrase: DataFrame,
      k: Int = 20): DataFrame =
    phrasePositions(pp, phrase)
      .select(col("doc_id"),
        size(array_intersect(
          transform(col("p1"), x => x + lit(1L)), col("p2")))
          .cast("long").as("matches"))
      .filter(col("matches") > 0)
      .orderBy(col("matches").desc, col("doc_id")).limit(k)

  /** Within-`window` proximity pair count per document from the
    * positional postings: `|{(a, b) : a ∈ positions(w1),
    * b ∈ positions(w2), b ≠ a, |b − a| ≤ window}|`, evaluated as a
    * bounded per-row HOF fold over the two position arrays (state is
    * the two arrays' lengths — no pair explode leaves the row). The
    * b ≠ a guard makes the self-phrase case (w1 = w2) well-defined:
    * ordered pairs of DISTINCT positions, symmetric, engine-neutral. */
  def nearMatches(pp: DataFrame, phrase: DataFrame, window: Int = 5,
      k: Int = 20): DataFrame =
    phrasePositions(pp, phrase)
      .select(col("doc_id"),
        expr(s"aggregate(p1, 0L, (acc, a) -> acc + " +
          s"size(filter(p2, b -> b != a AND abs(b - a) <= $window)))")
          .as("pairs"))
      .filter(col("pairs") > 0)
      .orderBy(col("pairs").desc, col("doc_id")).limit(k)

  /** Shared oracle prelude: tokenization + 1-based position unnest +
    * the top-adjacent-bigram phrase derivation (ranks by exact counts,
    * then lexicographic — identical to [[topBigram]]). `pos` covers
    * i ∈ [1, len) — every ADJACENT pair start; proximity needs the
    * full [1, len] range and spells its own. */
  private val phraseCtes =
    """w AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM w),
      |big AS (
      |  SELECT w[i] AS w1, w[i + 1] AS w2, count(*) AS c
      |  FROM pos GROUP BY 1, 2),
      |ph AS (SELECT w1, w2 FROM big ORDER BY c DESC, w1, w2 LIMIT 1)"""
      .stripMargin

  private[queries] val phraseOracleSql =
    s"""WITH $phraseCtes,
      |m AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS matches
      |  FROM pos, ph WHERE w[i] = ph.w1 AND w[i + 1] = ph.w2
      |  GROUP BY doc_id)
      |SELECT doc_id, matches FROM m
      |ORDER BY matches DESC, doc_id LIMIT 20""".stripMargin

  private[queries] val nearOracleSql =
    s"""WITH $phraseCtes,
      |allpos AS (
      |  SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM w),
      |o1 AS (SELECT doc_id, i FROM allpos, ph WHERE w[i] = ph.w1),
      |o2 AS (SELECT doc_id, i FROM allpos, ph WHERE w[i] = ph.w2),
      |m AS (
      |  SELECT o1.doc_id, CAST(count(*) AS BIGINT) AS pairs
      |  FROM o1 JOIN o2 ON o1.doc_id = o2.doc_id
      |    AND o2.i <> o1.i AND abs(o2.i - o1.i) <= 5
      |  GROUP BY 1)
      |SELECT doc_id, pairs FROM m
      |ORDER BY pairs DESC, doc_id LIMIT 20""".stripMargin

  /** The tx_lm_score plan over tokenized docs `(doc_id, h, w)` with
    * `len(w) >= 2`: a CCNet-style n-gram language-model quality dial.
    * A Laplace-smoothed bigram LM is fit on the train split (`h <
    * 'cc'`, the same md5 boundary as ds_split) and every document —
    * train, val, test — is scored by its mean per-bigram surprise
    * `-log2 (c2+1)/(c1+V)` in bits, then bucketed head/middle/tail by
    * corpus decile (CCNet keeps "head" for quality-skewed sampling).
    *
    * Cross-engine exactness: every log2 argument is an exact integer
    * (`c1+V`, `c2+1`), so per-term values differ only by libm ulps;
    * the per-doc mean is rounded to 4dp before both output and the
    * decile ranking, orders of magnitude above any accumulated
    * float error and far below the checker's 6dp normalization.
    *
    * Plan shape: bigram counts shuffle once on the train split's
    * (prev, tok) key; the fitted model — the bigram table, its
    * prefix-marginal, and the single-row vocabulary size — BROADCASTS
    * into the scoring join (stop-word bigrams are extreme hot keys;
    * same reasoning as [[rarityPlan]]), so corpus scoring is map-side
    * plus one uniform doc_id aggregation. The final decile is the
    * EXACT distributed ntile ([[graft.operators.Rank.ntileExact]]):
    * the only unpartitioned window runs over the nll_bits VALUE
    * HISTOGRAM (4dp-quantized, domain-bounded), tie groups rebase
    * through doc_id sub-buckets — no corpus-sized window partition
    * anywhere, and the oracle stays the global single-window ntile
    * SQL, so the hash match proves the decomposition. */
  def lmPlan(docs: DataFrame): DataFrame =
    // Fit ONCE: the bigram table is vocabulary²-bounded, so it
    // materializes eagerly and the prefix-marginal AND the vocabulary
    // size both derive from it. Without the checkpoint, Spark re-runs
    // the train-corpus explode+count once per derived table — three
    // full passes instead of one.
    lmScoreWith(docs, Materialize("text:lm:fit", TextOps.lmFit(docs)))

  /** The scoring half of [[lmPlan]] against an EXISTING fitted bigram
    * table — the steady-state form where the model is a persisted
    * artifact ([[graft.sources.Models.bigramLm]]). The prefix marginal
    * and vocabulary size re-derive from the (small) model table, so
    * the artifact stays one table. */
  def lmScoreWith(docs: DataFrame, c2: DataFrame): DataFrame = {
    // materialize the scoring ONCE: the two-phase rank reads the
    // per-doc table from four plan branches (value histogram,
    // tie-group counts, row-level window, total) — left lazy, each
    // branch re-runs the whole bigram scoring join
    val perDoc = Materialize("text:lm:score", lmPerDoc(docs, c2))
    graft.operators.Rank
      .ntileExact(perDoc, 10, "nll_bits", "doc_id", "decile")
      .select(col("doc_id"), col("n_bi"), col("nll_bits"),
        col("decile").cast("long").as("decile"))
      .withColumn("bucket",
        when(col("decile") <= 3, "head")
          .when(col("decile") <= 7, "middle")
          .otherwise("tail"))
      .orderBy("doc_id")
  }

  /** The scoring stage of [[lmScoreWith]] alone — per-doc
    * `(doc_id, n_bi, nll_bits)` against a fitted bigram table, NOT
    * materialized (PlanSpec pins its shape: model broadcasts, one
    * vocabulary-sized `prev` exchange for the c1 marginal, corpus
    * never shuffles on bigram keys). */
  def lmPerDoc(docs: DataFrame, c2: DataFrame): DataFrame = {
    val bg = TextOps.lmBigrams(docs)
    val c1 = c2.groupBy("prev").agg(sum("c2").as("c1"))
    val v = c2.select(col("prev").as("tok"))
      .union(c2.select(col("tok")))
      .agg(count_distinct(col("tok")).as("v"))
    bg
      .join(broadcast(c2), Seq("prev", "tok"), "left")
      .join(broadcast(c1), Seq("prev"), "left")
      .crossJoin(broadcast(v))
      .withColumn("t",
        log2(coalesce(col("c1"), lit(0L)) + col("v")) -
          log2(coalesce(col("c2"), lit(0L)) + lit(1L)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bi"), sum("t").as("st"))
      .select(col("doc_id"), col("n_bi"),
        round(col("st") / col("n_bi"), 4).as("nll_bits"))
  }

  /** CTEs `w`/`bg`/`c2`/`c1`/`v`: the full-corpus tokenization + the
    * bigram-LM fit on the train split — ONE spelling shared by the
    * `tx_lm_score*` oracles and the composed daily-pipeline oracle. */
  private[queries] val lmFitCtes =
    """w AS (
      |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
      |         string_split_regex(trim(lower(text)), '\s+') AS w
      |  FROM documents
      |  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
      |bg AS (
      |  SELECT doc_id, h, w[i] AS prev, w[i+1] AS tok
      |  FROM w, unnest(range(1, len(w))) AS u(i)),
      |c2 AS (
      |  SELECT prev, tok, CAST(count(*) AS BIGINT) AS c2
      |  FROM bg WHERE h < 'cc' GROUP BY 1, 2),
      |c1 AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS c1
      |       FROM c2 GROUP BY 1),
      |v AS (
      |  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
      |  FROM (SELECT unnest(w) AS tok FROM w WHERE h < 'cc'))"""
      .stripMargin

  /** CTEs `sc`/`agg`: score the bigram rows of `bgSrc` against the
    * fitted model (Laplace per-bigram surprise, 4dp-rounded per-doc
    * mean) — parameterized on the source so the daily pipeline can
    * score a SUBSET with the same arithmetic spelling. */
  private[queries] def lmScoredCtes(bgSrc: String): String =
    s"""sc AS (
       |  SELECT $bgSrc.doc_id,
       |         log2(coalesce(c1.c1, CAST(0 AS BIGINT)) + v.v)
       |           - log2(coalesce(c2.c2, CAST(0 AS BIGINT)) + 1) AS t
       |  FROM $bgSrc
       |  LEFT JOIN c2 USING (prev, tok)
       |  LEFT JOIN c1 USING (prev)
       |  CROSS JOIN v),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bi,
       |         round(sum(t) / count(*), 4) AS nll_bits
       |  FROM sc GROUP BY doc_id)""".stripMargin

  /** DuckDB replay of [[lmPlan]] — fit on the train split + score the
    * whole corpus + decile-bucket. ONE spelling shared by both
    * `tx_lm_score` (retrain-per-run) and `tx_lm_score_indexed`
    * (persisted model): the two Spark plans differ only in WHERE the
    * bigram table comes from, never in the result. */
  private val lmOracleSql =
    s"""WITH $lmFitCtes,
       |${lmScoredCtes("bg")},
       |rk AS (
       |  SELECT doc_id, n_bi, nll_bits,
       |         CAST(ntile(10) OVER (ORDER BY nll_bits, doc_id)
       |              AS BIGINT) AS decile
       |  FROM agg)
       |SELECT doc_id, n_bi, nll_bits, decile,
       |  CASE WHEN decile <= 3 THEN 'head'
       |       WHEN decile <= 7 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM rk ORDER BY doc_id""".stripMargin

  /** The tx_tfidf_terms plan over tokenized docs `(doc_id, w)`: term
    * frequencies shuffle once on the uniform (doc_id, term) key; the
    * vocabulary-sized df table and the single-row corpus count
    * BROADCAST (same hot-key reasoning as [[rarityPlan]]); the per-doc
    * top-3 window is doc-sized. PlanSpec pins the broadcasts and the
    * absence of any term-keyed exchange. */
  def tfidfPlan(docs: DataFrame): DataFrame = {
    val n = docs.agg(count(lit(1)).as("n"))
    val tf = docs.select(col("doc_id"), explode(col("w")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = docs
      .select(explode(array_distinct(col("w"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(broadcast(dfT), "term").crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * col("n") / col("df"))
      .withColumn("rnk", row_number().over(rankW))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"))
      .orderBy("doc_id", "term")
  }

  /** The ingest gate over `documents` as a DuckDB subquery, carrying
    * `source` and `text` through for downstream fingerprinting /
    * sharding — shared by the `tx_corpus_filter` oracle, the streaming
    * batch-equivalence oracle (`tx_ingest_gate_batch`), and the
    * end-to-end `ds_prep_pipeline` oracle, exactly as the Spark side
    * shares [[TextOps.ingestGate]]. */
  private[queries] val gatedDocsSql =
    s"""SELECT doc_id, source, text, predicted, quality, n_words FROM (
       |  SELECT doc_id, source, text,
       |    CASE WHEN len(regexp_extract_all(text, '[\\x{4E00}-\\x{9FFF}]')) > 0 THEN 'zh'
       |         WHEN substr(best, 1, 6) = '000000' THEN 'und'
       |         ELSE substr(best, 7, 2) END AS predicted,
       |    (least(CAST(1.0 AS DOUBLE), nw / CAST(100.0 AS DOUBLE))
       |     + (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), pu * CAST(5.0 AS DOUBLE) / nc))
       |     + least(CAST(1.0 AS DOUBLE), st * CAST(3.0 AS DOUBLE) / nw)
       |     + al / nc) * CAST(0.25 AS DOUBLE) AS quality,
       |    CAST(nw AS BIGINT) AS n_words
       |  FROM (
       |    SELECT doc_id, source, text, $duckScored AS best,
       |      CAST(length(text) AS DOUBLE) AS nc,
       |      CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS nw,
       |      CAST(len(regexp_extract_all(text, '\\p{P}')) AS DOUBLE) AS pu,
       |      CAST(len(regexp_extract_all(text, '[\\p{L}\\x{4E00}-\\x{9FFF}]')) AS DOUBLE) AS al,
       |      CAST(len(regexp_extract_all(lower(text), '\\b(the|and|was|his|that|with|for)\\b'))
       |         + len(regexp_extract_all(lower(text), '\\b(el|los|las|una|por|con|para|que)\\b'))
       |         + len(regexp_extract_all(lower(text), '\\b(le|les|des|une|est|dans|et|qui)\\b'))
       |         + len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht|mit|ein)\\b')) AS DOUBLE) AS st
       |    FROM documents
       |  )
       |) WHERE predicted = 'en' AND quality >= 0.5
       |    AND n_words BETWEEN 5 AND 5000""".stripMargin

  // ---- subword tokenizer oracle (shared by tx_subword_* and
  // ds_token_shards_subword) ----------------------------------------------

  // character n-gram lists per word, one bracket per gram length —
  // range(1, len-l+2) yields the l-gram start positions (empty when the
  // word is shorter than l)
  private val subwordGramLists =
    (TextOps.SubwordMinGram to TextOps.SubwordMaxGram)
      .map(l => s"[substr(wd,i,$l) for i in range(1, len(wd)-${l - 2})]")
      .mkString(" ||\n       ")

  /** Vocabulary derivation CTEs: every word occurrence → n-gram counts →
    * top-K by (cnt DESC, gram ASC) — the same deterministic derivation
    * as [[TextOps.subwordVocab]]. */
  private[queries] val subwordVocabCtes =
    s"""occ AS (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS wd
       |         FROM documents),
       |grams AS (
       |  SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(
       |      $subwordGramLists) AS gram
       |    FROM occ) GROUP BY 1),
       |vocab AS (
       |  SELECT gram, cnt,
       |         CAST(row_number() OVER (ORDER BY cnt DESC, gram) AS INT) AS rank
       |  FROM grams
       |  QUALIFY row_number() OVER (ORDER BY cnt DESC, gram) <= ${TextOps.SubwordVocabK})""".stripMargin

  // greedy longest-match step length: the longest vocab gram prefixing
  // the remaining suffix, else 1 (single-char fallback)
  private val subwordStepCase =
    (TextOps.SubwordMinGram to TextOps.SubwordMaxGram).reverse
      .map(l => s"WHEN pos+${l - 1} <= len(w) AND " +
        s"list_contains((SELECT vg FROM vl), substr(w,pos,$l)) THEN $l")
      .mkString("CASE ", "\n           ", "\n           ELSE 1 END")

  /** Tokenization replay CTEs: greedy longest-match as a recursive CTE
    * over DISTINCT words (tokenization is a pure function of the word),
    * joined back to per-doc word occurrences. `toks` is the
    * space-joined subword string per word; `wrds` carries the word
    * position so per-doc token strings concatenate in word order. */
  private[queries] val subwordTokenizeCtes =
    s"""$subwordVocabCtes,
       |vl AS (SELECT list(gram) AS vg FROM vocab),
       |dw AS (SELECT DISTINCT wd AS w FROM occ WHERE wd <> ''),
       |st AS (
       |  SELECT w, 1 AS pos, '' AS toks FROM dw
       |  UNION ALL
       |  SELECT w, pos + sl,
       |         CASE WHEN toks = '' THEN substr(w, pos, sl)
       |              ELSE toks || ' ' || substr(w, pos, sl) END
       |  FROM (
       |    SELECT w, pos, toks,
       |      $subwordStepCase AS sl
       |    FROM st WHERE pos <= len(w))
       |),
       |wt AS (SELECT w, toks, CAST(len(string_split(toks, ' ')) AS BIGINT) AS nt
       |       FROM st WHERE pos > len(w)),
       |wrds AS (SELECT doc_id, source, unnest(ws) AS wd,
       |                unnest(range(1, len(ws)+1)) AS wp
       |         FROM (SELECT doc_id, source,
       |                 string_split_regex(trim(lower(text)), '\\s+') AS ws
       |               FROM documents))""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // The deterministic subword vocabulary ITSELF, oracle-checked: if
    // this table hash-matches, Spark and the oracle derived the same
    // tokenizer, and every downstream subword count means the same
    // thing in both engines.
    "tx_subword_vocab" -> QueryDef(
      (s, d) => {
        // single-partition window over the K-row TakeOrdered result —
        // bounded by SubwordVocabK, never corpus-sized; declared so
        // via the constant partition key (Rank.boundedGlobal)
        val w = graft.operators.Rank.boundedGlobal(col("cnt").desc, col("gram"))
        TextOps.subwordVocab(Tables.documents(s, d))
          .withColumn("rank", row_number().over(w).cast("int"))
          .select("rank", "gram", "cnt")
          .orderBy("rank")
      },
      Some(s"WITH $subwordVocabCtes\n" +
        "SELECT rank, gram, cnt FROM vocab ORDER BY rank"),
      doc = s"deterministic subword vocabulary: top-" +
        s"${TextOps.SubwordVocabK} character " +
        s"${TextOps.SubwordMinGram}..${TextOps.SubwordMaxGram}-grams by " +
        "corpus frequency, ties by gram"),

    // Greedy longest-match subword tokenization of every document
    // against the corpus-derived vocab, emitting the FULL token string
    // (maximal oracle evidence: the hash pins every token boundary, not
    // just counts). The vocab is LOADED from the persisted model store
    // (Models.subwordVocabSeq — trained once per corpus, a K-row read
    // thereafter) and embedded in the expression as a plan literal —
    // broadcast semantics, no vocab-derivation subtree in the plan, and
    // the tokenize pass is a pure scan-stage projection with no
    // exchange before the final sort (PlanSpec pin).
    "tx_subword_tokens" -> QueryDef(
      (s, d) => {
        val vocab = graft.sources.Models.subwordVocabSeq(s, d)
        Tables.documents(s, d)
          .select(col("doc_id"),
            GraftFunctions.subwordTokens(
              TextOps.tokens(col("text")), vocab).as("toks"))
          .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
            array_join(col("toks"), " ").as("subword_text"))
          .orderBy("doc_id")
      },
      // LEFT JOIN back to documents so an empty/whitespace-only doc
      // (whose words all tokenize to nothing) still yields a
      // (doc_id, 0, '') row, matching Spark's total projection.
      Some(s"WITH RECURSIVE $subwordTokenizeCtes\n" +
        """SELECT d.doc_id, CAST(COALESCE(t.n_tokens, 0) AS BIGINT) AS n_tokens,
          |       COALESCE(t.subword_text, '') AS subword_text
          |FROM documents d LEFT JOIN (
          |  SELECT w2.doc_id, CAST(sum(wt.nt) AS BIGINT) AS n_tokens,
          |         string_agg(wt.toks, ' ' ORDER BY w2.wp) AS subword_text
          |  FROM wrds w2 JOIN wt ON wt.w = w2.wd
          |  GROUP BY w2.doc_id) t ON t.doc_id = d.doc_id
          |ORDER BY d.doc_id""".stripMargin),
      doc = "greedy longest-match subword tokenization (WordPiece-style) " +
        "against the deterministic corpus vocab; full token string " +
        "hash-matched vs a recursive-CTE replay"),

    "tx_token_counts" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
          TextOps.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
          |  CAST(len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]')) AS BIGINT) AS bpe_tokens
          |FROM documents ORDER BY doc_id""".stripMargin),
      doc = "token counting: whitespace + BPE-ish pre-tokenizer regex"),

    "tx_lang_id" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextOps.langId(col("text")).as("predicted"))
        .withColumn("correct", col("predicted") === col("lang"))
        .orderBy("doc_id"),
      Some(
        s"""SELECT doc_id, lang,
           |  CASE WHEN len(regexp_extract_all(text, '[\\x{4E00}-\\x{9FFF}]')) > 0 THEN 'zh'
           |       WHEN substr(best, 1, 6) = '000000' THEN 'und'
           |       ELSE substr(best, 7, 2) END AS predicted,
           |  (CASE WHEN len(regexp_extract_all(text, '[\\x{4E00}-\\x{9FFF}]')) > 0 THEN 'zh'
           |       WHEN substr(best, 1, 6) = '000000' THEN 'und'
           |       ELSE substr(best, 7, 2) END) = lang AS correct
           |FROM (SELECT doc_id, lang, text, $duckScored AS best FROM documents)
           |ORDER BY doc_id""".stripMargin),
      doc = "language ID: CJK presence + marker-word argmax heuristic"),

    "tx_quality" -> QueryDef(
      (s, d) => {
        val m = TextOps.qualityMetrics(col("text"))
        Tables.documents(s, d)
          .select(col("doc_id") +: m.map { case (n, c) => c.as(n) }: _*)
          .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id,
          |  CAST(nw AS BIGINT) AS n_words,
          |  nsp / nw AS avg_word_len,
          |  pu / nc AS punct_ratio,
          |  al / nc AS alpha_ratio,
          |  st / nw AS stop_ratio,
          |  (least(CAST(1.0 AS DOUBLE), nw / CAST(100.0 AS DOUBLE))
          |   + (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), pu * CAST(5.0 AS DOUBLE) / nc))
          |   + least(CAST(1.0 AS DOUBLE), st * CAST(3.0 AS DOUBLE) / nw)
          |   + al / nc) * CAST(0.25 AS DOUBLE) AS quality
          |FROM (
          |  SELECT doc_id,
          |    CAST(length(text) AS DOUBLE) AS nc,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS nw,
          |    CAST(len(regexp_extract_all(text, '\p{P}')) AS DOUBLE) AS pu,
          |    CAST(len(regexp_extract_all(text, '[\p{L}\x{4E00}-\x{9FFF}]')) AS DOUBLE) AS al,
          |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|was|his|that|with|for)\b'))
          |       + len(regexp_extract_all(lower(text), '\b(el|los|las|una|por|con|para|que)\b'))
          |       + len(regexp_extract_all(lower(text), '\b(le|les|des|une|est|dans|et|qui)\b'))
          |       + len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|mit|ein)\b')) AS DOUBLE) AS st,
          |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS nsp
          |  FROM documents
          |) ORDER BY doc_id""".stripMargin),
      doc = "quality scoring: length/punct/stopword/alpha ratios + composite"),

    // The composed ingest filter every training pipeline runs: keep
    // documents that pass language ID + composite quality + length
    // gates, in one codegen'd pass over the scan. Thresholds compare
    // doubles both engines compute identically (tx_quality
    // hash-matches), so the boundary is exact.
    "tx_corpus_filter" -> QueryDef(
      (s, d) => {
        val m = TextOps.qualityMetrics(col("text")).toMap
        Tables.documents(s, d)
          .select(col("doc_id"), TextOps.langId(col("text")).as("predicted"),
            m("quality").as("quality"), m("n_words").as("n_words"))
          .filter(col("predicted") === "en" && col("quality") >= 0.5 &&
            col("n_words").between(5, 5000))
          .orderBy("doc_id")
      },
      Some(
        s"""SELECT doc_id, predicted, quality, n_words
           |FROM ($gatedDocsSql)
           |ORDER BY doc_id""".stripMargin),
      doc = "composed ingest filter: language + quality + length gates " +
        "in one scan pass"),

    // Batch-equivalence form of the STREAMING ingest path: the same
    // TextOps.ingestGate predicate EventStreams.ingestGate fuses in
    // front of its watermarked dedup, composed with the same exact-
    // dedup fingerprint (first survivor per fingerprint = the batch
    // analogue of keep-first-arrival). Oracle-hashing this entry makes
    // the batch/streaming expression share executable — the streaming
    // path is otherwise only spec-testable.
    "tx_ingest_gate_batch" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .filter(TextOps.ingestGate(col("text")))
        .select(col("doc_id"), TextOps.mdFingerprint(col("text")).as("fp"))
        .groupBy("fp").agg(min("doc_id").as("doc_id"))
        .select("doc_id", "fp")
        .orderBy("doc_id"),
      Some(
        s"""SELECT min(doc_id) AS doc_id, fp FROM (
           |  SELECT doc_id,
           |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
           |  FROM ($gatedDocsSql))
           |GROUP BY fp ORDER BY doc_id""".stripMargin),
      doc = "streaming ingest gate, batch-equivalence form: the shared " +
        "TextOps.ingestGate predicate + exact-dedup fingerprint " +
        "(first survivor per fingerprint)"),

    // Corpus n-gram statistics: top-5 bigrams per language by frequency
    // — the "what's in this corpus" analysis every training-data
    // pipeline runs. One explode + one shuffle (lang, bigram) with
    // map-side combine, then a tiny ranking window.
    "tx_ngram_stats" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        Tables.documents(s, d)
          .select(col("lang"), TextOps.tokens(col("text")).as("w"))
          .select(col("lang"), explode(TextOps.ngrams(col("w"), 2)).as("bigram"))
          .groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("lang").orderBy(col("n").desc, col("bigram"))))
          .filter(col("rnk") <= 5)
          .select(col("lang"), col("bigram"), col("n"), col("rnk").cast("int").as("rnk"))
          .orderBy("lang", "rnk")
      },
      Some(
        """SELECT lang, bigram, n, CAST(rnk AS INT) AS rnk FROM (
          |  SELECT lang, bigram, n,
          |         row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rnk
          |  FROM (
          |    SELECT lang, bigram, count(*) AS n FROM (
          |      SELECT lang, unnest([w[i]||' '||w[i+1] for i in range(1, len(w))]) AS bigram
          |      FROM (SELECT lang, string_split_regex(trim(lower(text)), '\s+') AS w
          |            FROM documents)
          |      WHERE len(w) >= 2)
          |    GROUP BY 1, 2)
          |) WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin),
      doc = "corpus n-gram frequency: top-5 bigrams per language"),

    // Repetition signals (Gopher quality filters, Rae et al. 2021
    // §A1.2): unique-word fraction and duplicate 2/3-gram fractions are
    // per-row column expressions (zero shuffle, run inside the scan);
    // the most-frequent-word share needs a per-(doc, word) count — one
    // explode + map-side-combined groupBy + doc-key join, the scalable
    // spelling at 100 TB (a per-row nested loop over distinct words
    // would be quadratic in document length).
    "tx_repetition" -> QueryDef(
      (s, d) => {
        val w = col("w")
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("w"))
        val top = docs
          .select(col("doc_id"), explode(w).as("word"))
          .groupBy("doc_id", "word").agg(count(lit(1)).as("n"))
          .groupBy("doc_id").agg(max(col("n")).as("top_n"))
        // merge hint + ratios above the join: the SMJ's own exchange
        // spreads the higher-order n-gram/distinct work across the full
        // shuffle parallelism instead of the scan stage's task-per-file
        // (a single local file = a single task; measured ~6× on sf0.1
        // — a broadcast of `top` would keep the CPU-heavy projection
        // pinned to the scan). At 100 TB `top` (one row per doc) never
        // broadcasts and SMJ is the planner's choice anyway, so the
        // hint costs nothing — and on a doc_id-bucketed corpus layout
        // the docs side needs no exchange at all (LakeSpec pins this).
        // The Gopher segment/top-gram signals are stateful HOF walks
        // over bound sorted arrays (the rule on TextOps.ngrams).
        docs.join(top.hint("merge"), "doc_id")
          .withColumn("ls", TextOps.segments(col("text"), "\n"))
          .withColumn("sl", sort_array(col("ls")))
          .withColumn("ps", TextOps.segments(col("text"), "\n\n"))
          .withColumn("sp", sort_array(col("ps")))
          .withColumn("g4", sort_array(TextOps.ngrams(w, 4)))
          .select(col("doc_id"), size(w).cast("long").as("n_words"),
            TextOps.uniqWordRatio(w).as("uniq_word_ratio"),
            (col("top_n").cast("double") / size(w).cast("double"))
              .as("top_word_ratio"),
            TextOps.dupNgramRatio(w, 2).as("dup_bigram_ratio"),
            TextOps.dupNgramRatio(w, 3).as("dup_trigram_ratio"),
            TextOps.dupSegmentRatio(col("ls")).as("dup_line_ratio"),
            when(TextOps.segChars(col("ls")) > 0,
              TextOps.dupAdjacentChars(col("sl")).cast("double") /
                TextOps.segChars(col("ls")).cast("double"))
              .otherwise(lit(0.0)).as("dup_line_char_ratio"),
            TextOps.dupSegmentRatio(col("ps")).as("dup_para_ratio"),
            when(TextOps.segChars(col("ps")) > 0,
              TextOps.dupAdjacentChars(col("sp")).cast("double") /
                TextOps.segChars(col("ps")).cast("double"))
              .otherwise(lit(0.0)).as("dup_para_char_ratio"),
            when(size(col("g4")) > 0,
              TextOps.topRunChars(col("g4")).cast("double") /
                length(array_join(w, " ")).cast("double"))
              .otherwise(lit(0.0)).as("top_4gram_char_ratio"))
          .orderBy("doc_id")
      },
      Some(
        """WITH w AS (
          |  SELECT doc_id, text,
          |         string_split_regex(trim(lower(text)), '\s+') AS w
          |  FROM documents),
          |top AS (
          |  SELECT doc_id, max(n) AS top_n FROM (
          |    SELECT doc_id, word, count(*) AS n
          |    FROM (SELECT doc_id, unnest(w) AS word FROM w) GROUP BY 1, 2)
          |  GROUP BY doc_id),
          |t4 AS (
          |  SELECT doc_id, CAST(max(n * len(gram)) AS BIGINT) AS top4_chars
          |  FROM (
          |    SELECT doc_id, gram, count(*) AS n
          |    FROM (SELECT doc_id,
          |            unnest([w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]
          |                    for i in range(1, len(w)-2)]) AS gram
          |          FROM w)
          |    GROUP BY 1, 2)
          |  GROUP BY doc_id),
          |m AS (
          |  SELECT doc_id, len(w) AS nw, len(list_distinct(w)) AS uw,
          |    len(array_to_string(w, ' ')) AS wchars,
          |    [w[i]||' '||w[i+1] for i in range(1, len(w))] AS bg,
          |    [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)] AS tg,
          |    list_filter(string_split(text, chr(10)), x -> x <> '') AS ls,
          |    list_filter(string_split(text, chr(10)||chr(10)), x -> x <> '')
          |      AS ps
          |  FROM w),
          |m2 AS (
          |  SELECT *, list_sort(ls) AS sl, list_sort(ps) AS sp,
          |    coalesce(list_sum([len(x) for x in ls]), 0) AS lchars,
          |    coalesce(list_sum([len(x) for x in ps]), 0) AS pchars
          |  FROM m)
          |SELECT m2.doc_id, CAST(nw AS BIGINT) AS n_words,
          |  CAST(uw AS DOUBLE) / CAST(nw AS DOUBLE) AS uniq_word_ratio,
          |  CAST(top_n AS DOUBLE) / CAST(nw AS DOUBLE) AS top_word_ratio,
          |  CASE WHEN len(bg) > 0
          |       THEN CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE)
          |          / CAST(len(bg) AS DOUBLE)
          |       ELSE CAST(0.0 AS DOUBLE) END AS dup_bigram_ratio,
          |  CASE WHEN len(tg) > 0
          |       THEN CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE)
          |          / CAST(len(tg) AS DOUBLE)
          |       ELSE CAST(0.0 AS DOUBLE) END AS dup_trigram_ratio,
          |  CASE WHEN len(ls) > 0
          |       THEN CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE)
          |          / CAST(len(ls) AS DOUBLE)
          |       ELSE CAST(0.0 AS DOUBLE) END AS dup_line_ratio,
          |  CASE WHEN lchars > 0
          |       THEN CAST(coalesce(list_sum(
          |              [CASE WHEN sl[i] = sl[i-1] THEN len(sl[i]) ELSE 0 END
          |               for i in range(2, len(sl)+1)]), 0) AS DOUBLE)
          |          / CAST(lchars AS DOUBLE)
          |       ELSE CAST(0.0 AS DOUBLE) END AS dup_line_char_ratio,
          |  CASE WHEN len(ps) > 0
          |       THEN CAST(len(ps) - len(list_distinct(ps)) AS DOUBLE)
          |          / CAST(len(ps) AS DOUBLE)
          |       ELSE CAST(0.0 AS DOUBLE) END AS dup_para_ratio,
          |  CASE WHEN pchars > 0
          |       THEN CAST(coalesce(list_sum(
          |              [CASE WHEN sp[i] = sp[i-1] THEN len(sp[i]) ELSE 0 END
          |               for i in range(2, len(sp)+1)]), 0) AS DOUBLE)
          |          / CAST(pchars AS DOUBLE)
          |       ELSE CAST(0.0 AS DOUBLE) END AS dup_para_char_ratio,
          |  CASE WHEN t4.top4_chars IS NOT NULL AND wchars > 0
          |       THEN CAST(t4.top4_chars AS DOUBLE) / CAST(wchars AS DOUBLE)
          |       ELSE CAST(0.0 AS DOUBLE) END AS top_4gram_char_ratio
          |FROM m2 JOIN top USING (doc_id) LEFT JOIN t4 USING (doc_id)
          |ORDER BY doc_id""".stripMargin),
      doc = "Gopher repetition table (Rae et al. 2021 A1): unique-word" +
        " / top-word fractions, duplicate 2,3-gram fractions, duplicate" +
        " line/paragraph fractions by count AND by char share, top" +
        " 4-gram char fraction"),

    // Corpus-relative rarity score (the cheap proxy for CCNet's
    // LM-perplexity quality dial): mean document frequency of a doc's
    // token occurrences. Boilerplate-heavy docs score high (their
    // tokens appear everywhere), jargon/noise docs score low — both
    // tails are what a curation pass inspects. Exact integer df sums
    // divided once in double, so the oracle hash-matches.
    "tx_rarity" -> QueryDef(
      (s, d) => {
        // tokenize ONCE: the df branch and the occurrence branch both
        // read the cached tokenized docs instead of re-scanning and
        // re-splitting the corpus (an eager checkpoint of the tiny
        // per-doc result releases the cache before returning)
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
          .cache()
        Materialize("text:tx_rarity:score", rarityPlan(docs), docs)
      },
      Some(rarityOracleSql),
      doc = "corpus-relative rarity: mean token document frequency per " +
        "doc (boilerplate scores high, noise scores low)"),

    // tx_rarity's steady-state form: the df table is the PERSISTED
    // corpus statistic (Models.dfTable — derived once, broadcast per
    // run); scoring is the occurrence explode + broadcast join only.
    // Same retraining oracle — the hash match proves reload == retrain
    // for the statistic, completing the artifact story for every
    // corpus-derived model/statistic in the engine.
    "tx_rarity_indexed" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
        rarityScoreWith(docs, graft.sources.Models.dfTable(s, d))
      },
      Some(rarityOracleSql),
      doc = "rarity from the PERSISTED df table: derive once, " +
        "broadcast-score per run — oracle retrains from scratch"),

    // BM25 retrieval over the corpus against a deterministic
    // mid-frequency query term set — see [[bm25With]] for the
    // cross-engine arithmetic and the broadcast plan shape.
    "tx_bm25_topk" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
          .cache()
        val df = Materialize("text:tx_bm25_topk:df", TextOps.dfTable(docs))
        Materialize("text:tx_bm25_topk:score",
          bm25With(docs, df, bm25QueryTerms(df)), docs)
      },
      Some(bm25OracleSql),
      doc = "BM25 top-20 (k1=1.2, b=0.75) against the df-rank-11..15 " +
        "query terms: exact-integer log args, 4dp-rounded scores"),

    // BM25's steady-state form: df statistic AND query-term derivation
    // read the PERSISTED df table; per-run work is the tf scan +
    // broadcast scoring. Same retraining oracle.
    "tx_bm25_indexed" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
        val df = graft.sources.Models.dfTable(s, d)
        bm25With(docs, df, bm25QueryTerms(df))
      },
      Some(bm25OracleSql),
      doc = "BM25 from the PERSISTED df table — oracle retrains from " +
        "scratch"),

    // BM25 entirely from PERSISTED retrieval artifacts: tf from the
    // tok-bucketed postings index (a query reads only its terms'
    // buckets — never re-tokenizes the corpus), dl from the stored
    // doc-length table, df/q from the stored df table. The true
    // query-time serving path; same retraining oracle, so the hash
    // match proves postings+lens reload ≡ retokenize.
    "tx_bm25_postings" -> QueryDef(
      (s, d) => bm25FromArtifacts(s, d),
      Some(bm25OracleSql),
      doc = "BM25 from the tok-BUCKETED postings index + stored doc " +
        "lens + stored df table: query-time cost is the query terms' " +
        "posting buckets, not a corpus re-tokenize — oracle retrains " +
        "from scratch"),

    // The postings DAILY FOLD under the oracle gate (the text twin of
    // sim_ivfpq_append): base artifacts build from the ~90% md5 split
    // of the corpus written to a run-private dir, the held-out batch
    // folds in through Models.postingsAppend (bucket-preserving
    // postings append + CONSISTENT df/doc-length refresh), and the
    // query serves BM25 from the FOLDED artifacts. The oracle retrains
    // over the full corpus from scratch, so the hash match proves
    // folded == retokenized — including the df refresh, which a
    // postings-only append would silently corrupt.
    "tx_bm25_append" -> QueryDef(
      (s, d) => {
        val tmp = SourceQueries.tempDir("graft_bm25_fold")
        val docs = Tables.documents(s, d)
        val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
        // base artifacts from the MEMOIZED scene (bit-identical to the
        // one-pass in-query train it replaces — Scenes scaladoc): the
        // fold under test still runs in full on the cloned copy
        graft.sources.Scenes.cloneScene(s, d, "retr_e6", tmp,
          params = "slice<e6") { c =>
          graft.sources.Models.buildRetrievalArtifacts(s, c,
            docs = Some(docs.filter(h < "e6")))
        }
        graft.sources.Models.postingsAppend(s, tmp,
          docs.filter(h >= "e6").select("doc_id", "text"),
          "doc_id", "text", dedupeIds = true)
        // the result is materialized: reclaim the run-private fold
        // corpus's artifacts so repeated runs don't accumulate them
        Materialize.releasing("text:tx_bm25_append:score",
          bm25FromArtifacts(s, tmp))(graft.sources.Models.drop(s, tmp))
      },
      Some(bm25OracleSql),
      doc = "BM25 served from FOLDED artifacts (base build + " +
        "postingsAppend of the held-out batch) — oracle retokenizes " +
        "the full corpus, proving the fold incl. the df refresh"),

    // The CRASHED-maintenance lifecycle under the oracle gate — the
    // round-15 atomic generation-cutover machinery driven end to end
    // by the driver's hash compare, not only by ScalaTest: base
    // artifacts + a daily fold, then the debris a crashed maintenance
    // pass leaves behind (a complete-looking UNCOMMITTED next
    // generation under the postings family, a dead tokenize staging
    // dir), then Models.vacuum sweeps it (in-query gate: exactly the
    // two planted paths reclaimed, nothing else), a compaction cuts
    // the head over atomically ON TOP of the reclaimed family, and a
    // second fold lands in the new generation. The oracle retokenizes
    // the full corpus — the hash match proves torn staging never
    // leaked into serving and the cutover + post-cutover fold
    // preserved every row.
    "maint_vacuum_cutover" -> QueryDef(
      (s, d) => {
        val tmp = SourceQueries.tempDir("graft_maint_vacuum")
        val docs = Tables.documents(s, d)
        val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
        graft.sources.Scenes.cloneScene(s, d, "retr_cc", tmp,
          params = "slice<cc") { c =>
          graft.sources.Models.buildRetrievalArtifacts(s, c,
            docs = Some(docs.filter(h < "cc")))
        }
        graft.sources.Models.postingsAppend(s, tmp,
          docs.filter(h >= "cc" && h < "ee").select("doc_id", "text"),
          "doc_id", "text", dedupeIds = true)
        // the crash debris: an uncommitted generation with a
        // plausible-looking payload, and a dead tokenize staging dir
        val postPath = graft.sources.Models.postingsPath(tmp)
        val fs = new org.apache.hadoop.fs.Path(postPath)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val orphan = new org.apache.hadoop.fs.Path(postPath, "gen-40")
        fs.mkdirs(orphan)
        fs.create(new org.apache.hadoop.fs.Path(orphan, "_SUCCESS"),
          true).close()
        fs.create(new org.apache.hadoop.fs.Path(orphan,
          "part-torn.parquet"), true).close()
        val tokStaging = new org.apache.hadoop.fs.Path(
          s"${graft.sources.Models.root(tmp)}/tok_staging")
        fs.mkdirs(tokStaging)
        val swept = graft.sources.Models.vacuum(s, tmp, minAgeMs = 0L)
          .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath)
        require(swept.toSet ==
          Set(orphan.toUri.getPath, tokStaging.toUri.getPath),
          s"vacuum swept the wrong set: $swept")
        val (before, after) =
          graft.sources.Models.compactBucketed(s, postPath)
        require(before > graft.sources.Models.IndexBuckets &&
          after <= graft.sources.Models.IndexBuckets,
          s"cutover ineffective: files $before -> $after")
        graft.sources.Models.postingsAppend(s, tmp,
          docs.filter(h >= "ee").select("doc_id", "text"),
          "doc_id", "text", dedupeIds = true)
        Materialize.releasing("text:maint_vacuum_cutover:score",
          bm25FromArtifacts(s, tmp))(graft.sources.Models.drop(s, tmp))
      },
      Some(bm25OracleSql),
      doc = "crashed-maintenance lifecycle: fold, plant torn staging " +
        "(uncommitted generation + dead tokenize dir), vacuum sweeps " +
        "exactly it, compaction cuts over atomically, a post-cutover " +
        "fold lands — oracle retokenizes the full corpus, proving the " +
        "debris never leaked into serving"),

    // The MAINTENANCE REPORTER under the oracle gate: a scripted
    // fold -> fold -> compact -> vacuum day over a run-private corpus,
    // with event recording enabled, then the query READS the
    // append-only maintenance_events table (the reference fans data
    // events to reporters, pithos src/io/pithos/reporter.clj:4-16 —
    // this is the same surface for the maintenance layer). The oracle
    // re-derives the expected ledger: fold row counts from the same
    // md5 split of the documents table, the compact/vacuum entries
    // from the script's fixed shape — hash match proves each applied
    // operation logged exactly once, in order, with the right counts
    // (wall-clock and file counts stay in the table, excluded here as
    // non-deterministic). The scripted day is SHARED with maint_rollup
    // through [[maintDay]] (round 19): the pair reads one ledger
    // instead of each paying the same script.
    "maint_history" -> QueryDef(
      (s, d) => {
        val tmp = maintDay(s, d)
        Materialize("text:maint_history:read", graft.sources.MaintenanceLog
          .events(s, graft.sources.Models.root(tmp))
          .select(col("seq"), col("kind"), col("family"), col("n_rows"))
          .orderBy("seq"))
      },
      Some(
        """WITH h AS (
          |  SELECT md5(CAST(doc_id AS VARCHAR)) AS hh FROM documents)
          |SELECT * FROM (
          |  SELECT CAST(1 AS BIGINT) AS seq, 'fold' AS kind,
          |         'postings' AS family,
          |         (SELECT CAST(count(*) AS BIGINT) FROM h
          |          WHERE hh >= 'cc' AND hh < 'd6') AS n_rows
          |  UNION ALL SELECT CAST(2 AS BIGINT), 'fold', 'postings',
          |         (SELECT CAST(count(*) AS BIGINT) FROM h
          |          WHERE hh >= 'd6' AND hh < 'e0')
          |  UNION ALL SELECT CAST(3 AS BIGINT), 'compact', 'postings',
          |         CAST(0 AS BIGINT)
          |  UNION ALL SELECT CAST(4 AS BIGINT), 'compact', 'doc_lens',
          |         CAST(0 AS BIGINT)
          |  UNION ALL SELECT CAST(5 AS BIGINT), 'vacuum', '*',
          |         CAST(0 AS BIGINT))
          |ORDER BY seq""".stripMargin),
      doc = "maintenance reporter: scripted fold/fold/compact/vacuum " +
        "day logged to the append-only maintenance_events table " +
        "(versioned-sink atomic appends) — oracle re-derives the " +
        "expected ledger from the same md5 corpus split"),

    // The ledger's ROLLUP — the observability table's first-class
    // consumer (round-18, r17 verdict item 7): the same scripted
    // fold→fold→compact→vacuum day as maint_history, aggregated per
    // (kind, family) into event count, total rows folded, and seq
    // span — "what did the nightly loop do" as one dashboard-shaped
    // query instead of a ledger scan. Compaction EFFECTIVENESS is an
    // in-query receipt (every compact event must have reduced its
    // file count) rather than an output column: file counts for this
    // scripted day are deterministic in shape but not across scale
    // factors, and the oracle's job here is the rollup arithmetic.
    // At 100 TB the ledger is a tiny auto-compacted table (~2.4 KB/
    // event, BASELINE.md pricing), so the rollup is a metadata-scale
    // aggregation no matter the corpus size.
    "maint_rollup" -> QueryDef(
      (s, d) => {
        val tmp = maintDay(s, d)
        val ev = Materialize("text:maint_rollup:read",
          graft.sources.MaintenanceLog.events(s,
            graft.sources.Models.root(tmp)))
        // effectiveness receipt: bounded (2-row) collect over the
        // compact events only
        val comp = ev.filter(col("kind") === "compact")
          .select(col("family"), col("files_before"), col("files_after"))
          .collect()
        require(comp.nonEmpty && comp.forall(r =>
          r.getLong(1) > r.getLong(2)),
          "compaction receipts missing or ineffective: " +
            comp.mkString(","))
        Materialize("text:maint_rollup:rollup",
          ev.groupBy(col("kind"), col("family"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("n_rows")).as("total_rows"),
              min(col("seq")).as("first_seq"),
              max(col("seq")).as("last_seq"))
            .orderBy("first_seq"))
      },
      Some(
        """WITH h AS (
          |  SELECT md5(CAST(doc_id AS VARCHAR)) AS hh FROM documents),
          |ledger AS (
          |  SELECT CAST(1 AS BIGINT) AS seq, 'fold' AS kind,
          |         'postings' AS family,
          |         (SELECT CAST(count(*) AS BIGINT) FROM h
          |          WHERE hh >= 'cc' AND hh < 'd6') AS n_rows
          |  UNION ALL SELECT CAST(2 AS BIGINT), 'fold', 'postings',
          |         (SELECT CAST(count(*) AS BIGINT) FROM h
          |          WHERE hh >= 'd6' AND hh < 'e0')
          |  UNION ALL SELECT CAST(3 AS BIGINT), 'compact', 'postings',
          |         CAST(0 AS BIGINT)
          |  UNION ALL SELECT CAST(4 AS BIGINT), 'compact', 'doc_lens',
          |         CAST(0 AS BIGINT)
          |  UNION ALL SELECT CAST(5 AS BIGINT), 'vacuum', '*',
          |         CAST(0 AS BIGINT))
          |SELECT kind, family, CAST(count(*) AS BIGINT) AS n_events,
          |       CAST(sum(n_rows) AS BIGINT) AS total_rows,
          |       CAST(min(seq) AS BIGINT) AS first_seq,
          |       CAST(max(seq) AS BIGINT) AS last_seq
          |FROM ledger GROUP BY kind, family
          |ORDER BY first_seq""".stripMargin),
      doc = "maintenance-events rollup per (kind, family): event " +
        "count, rows folded, seq span, with an in-query compaction- " +
        "effectiveness receipt — the ledger's dashboard consumer; " +
        "oracle re-derives the rollup from the same md5 corpus split"),

    // The steady-state MAINTENANCE cycle under the oracle gate: daily
    // folds fragment the bucketed postings (one file set per fold),
    // Models.compactRetrievalIndexes rewrites them to one file per
    // bucket, and the query serves BM25 from the COMPACTED index. The
    // in-query gate requires the folds really fragmented
    // (before > IndexBuckets) and compaction really restored the
    // minimal layout (after <= IndexBuckets); the oracle retokenizes
    // the full corpus from scratch, so the hash match proves
    // compacted == folded == retokenized — the full
    // fold→compact→serve lifecycle, not just the append half.
    "tx_bm25_compacted" -> QueryDef(
      (s, d) => {
        val tmp = SourceQueries.tempDir("graft_bm25_compact")
        val docs = Tables.documents(s, d)
        val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
        // base artifacts from the MEMOIZED "retr_cc" scene (shared
        // with maint_vacuum_cutover and maint_history — one train
        // serves all three gates' identical base)
        graft.sources.Scenes.cloneScene(s, d, "retr_cc", tmp,
          params = "slice<cc") { c =>
          graft.sources.Models.buildRetrievalArtifacts(s, c,
            docs = Some(docs.filter(h < "cc")))
        }
        for ((lo, hi) <- Seq(("cc", "ee"), ("ee", "g"))) {
          graft.sources.Models.postingsAppend(s, tmp,
            docs.filter(h >= lo && h < hi).select("doc_id", "text"),
            "doc_id", "text", dedupeIds = true)
        }
        val res = graft.sources.Models.compactRetrievalIndexes(s, tmp)
        val (before, after) = res("postings")
        require(before > graft.sources.Models.IndexBuckets &&
          after <= graft.sources.Models.IndexBuckets,
          s"compaction ineffective: files $before -> $after " +
            s"(want > ${graft.sources.Models.IndexBuckets} before, " +
            s"<= ${graft.sources.Models.IndexBuckets} after)")
        Materialize.releasing("text:tx_bm25_compacted:score",
          bm25FromArtifacts(s, tmp))(graft.sources.Models.drop(s, tmp))
      },
      Some(bm25OracleSql),
      doc = "BM25 served from the COMPACTED index after two daily " +
        "folds: in-query file-count gate (fragmented > 16 -> " +
        "compacted <= 16), oracle retokenizes the full corpus — " +
        "proves the fold->compact->serve lifecycle end to end"),

    // Exact-phrase retrieval from the POSITIONAL postings index — the
    // capability the tf postings can't express (BM25 ranks bags of
    // words; "order fast" as a phrase needs adjacency). The demo
    // phrase is the corpus's top adjacent bigram (deterministic, so
    // the oracle derives the same one); matching reads ONLY the two
    // terms' index rows. The oracle retokenizes the corpus and scans
    // adjacencies — the hash match proves positional reload ≡
    // retokenize, the family's retraining-oracle pattern.
    "tx_phrase_match" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
        phraseMatches(
          graft.sources.Models.positionalPostings(s, d),
          topBigram(docs))
      },
      Some(phraseOracleSql),
      doc = "exact-phrase top-20 (the corpus's top adjacent bigram) " +
        "from the PERSISTED positional postings — per-row position " +
        "intersection, oracle retokenizes + adjacency-scans"),

    // Proximity retrieval from the same positional index: documents
    // where the phrase terms co-occur within a 5-token window, ranked
    // by the (distinct-position) pair count — the "terms near each
    // other" relevance dial between bag-of-words and exact phrase.
    "tx_near_match" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
        nearMatches(
          graft.sources.Models.positionalPostings(s, d),
          topBigram(docs))
      },
      Some(nearOracleSql),
      doc = "within-5-token proximity pair counts for the top-bigram " +
        "terms, from the PERSISTED positional postings — bounded " +
        "per-row HOF fold, no pair explode"),

    // Conjunctive boolean retrieval from the tf postings: documents
    // containing ALL five bm25QueryTerms (the AND query a curation
    // pass runs before ranking), with their total query-term
    // occurrence count. Counting distinct terms per doc over postings
    // rows (already one row per (tok, doc)) makes the ALL-terms test a
    // plain count equality — no per-occurrence state.
    "tx_boolean_and" -> QueryDef(
      (s, d) => {
        val df = graft.sources.Models.dfTable(s, d)
        graft.sources.Models.postings(s, d)
          .join(broadcast(bm25QueryTerms(df)), "tok")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_terms"), sum("tf").as("tf_sum"))
          .filter(col("n_terms") === 5)
          .select(col("doc_id"), col("tf_sum"))
          .orderBy("doc_id")
      },
      Some(
        """WITH w AS (
          |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
          |  FROM documents),
          |df AS (
          |  SELECT tok, count(*) AS df FROM (
          |    SELECT unnest(list_distinct(w)) AS tok FROM w)
          |  GROUP BY tok),
          |q AS (SELECT tok FROM df ORDER BY df DESC, tok LIMIT 5 OFFSET 10),
          |tf AS (
          |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
          |  FROM (SELECT doc_id, unnest(w) AS tok FROM w) JOIN q USING (tok)
          |  GROUP BY 1, 2)
          |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tf_sum
          |FROM tf GROUP BY doc_id HAVING count(*) = 5
          |ORDER BY doc_id""".stripMargin),
      doc = "conjunctive AND over the five bm25 query terms from the " +
        "PERSISTED postings: docs containing ALL terms + total " +
        "query-term tf — oracle retokenizes from scratch"),

    // Count-Min-sketch token frequencies: the bounded-memory answer to
    // "how often does this token appear in 100 TB" — 3 rows × 4096
    // counters (the base-m digits of the 60-bit md5 hash index each
    // row), point estimate = min over rows. Counters are
    // order-independent integer sums, so unlike Misra-Gries-family
    // sketches the result is independent of aggregation/merge order
    // and DuckDB rebuilds the sketch bit-for-bit. The demo reports the
    // exact top-20 tokens with exact and CMS counts side by side
    // (estimate >= exact always; the gap IS the collision error). The
    // sketch aggregate's shuffle is 3×4096 keys after map-side
    // combine, regardless of corpus size.
    "tx_cms_counts" -> QueryDef(
      (s, d) => {
        val m = 4096L
        val occ = Tables.documents(s, d)
          .select(explode(TextOps.tokens(col("text"))).as("tok"))
          .withColumn("gh", Dedup.tokenHash60(col("tok")))
        val cms = occ
          .select(explode(array((0 until 3).map(j =>
            struct(lit(j.toLong).as("j"),
              expr(s"(gh div ${math.pow(m.toDouble, j).toLong}) % $m").as("pos"))
          ): _*)).as("e"))
          .groupBy(col("e.j").as("j"), col("e.pos").as("pos"))
          .agg(count(lit(1)).as("c"))
        val top = occ.groupBy("tok")
          .agg(count(lit(1)).as("exact"), first("gh").as("gh"))
          .orderBy(col("exact").desc, col("tok")).limit(20)
        val est = top
          .select(col("tok"), col("exact"), explode(array((0 until 3).map(j =>
            struct(lit(j.toLong).as("j"),
              expr(s"(gh div ${math.pow(m.toDouble, j).toLong}) % $m").as("pos"))
          ): _*)).as("e"))
          .join(broadcast(cms),
            col("e.j") === cms("j") && col("e.pos") === cms("pos"))
          .groupBy("tok", "exact").agg(min("c").as("cms_est"))
        est.orderBy(col("exact").desc, col("tok"))
      },
      Some(
        """WITH occ AS (
          |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
          |           AS tok
          |  FROM documents),
          |h AS (
          |  SELECT tok,
          |         CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)
          |           AS gh
          |  FROM occ),
          |e AS (
          |  SELECT tok, gh, j, (gh // CAST(pow(4096, j) AS BIGINT)) % 4096
          |           AS pos
          |  FROM h, unnest([0, 1, 2]) AS u(j)),
          |cms AS (
          |  SELECT j, pos, CAST(count(*) AS BIGINT) AS c
          |  FROM e GROUP BY 1, 2),
          |top AS (
          |  SELECT tok, CAST(count(*) AS BIGINT) AS exact
          |  FROM h GROUP BY tok ORDER BY exact DESC, tok LIMIT 20),
          |est AS (
          |  SELECT t.tok, t.exact, CAST(min(cms.c) AS BIGINT) AS cms_est
          |  FROM top t
          |  JOIN (SELECT DISTINCT tok, j, pos FROM e) ep USING (tok)
          |  JOIN cms USING (j, pos)
          |  GROUP BY 1, 2)
          |SELECT tok, exact, cms_est FROM est
          |ORDER BY exact DESC, tok""".stripMargin),
      doc = "Count-Min sketch (3x4096) token frequencies: exact top-20 " +
        "vs point estimates, order-independent counters the oracle " +
        "rebuilds bit-for-bit"),

    // CCNet-style LM quality bucketing: fit a Laplace bigram LM on the
    // train split, score every doc's mean per-bigram surprise (bits),
    // decile-rank into head/middle/tail. See [[lmPlan]] for the
    // cross-engine determinism and plan-shape reasoning.
    "tx_lm_score" -> QueryDef(
      (s, d) => {
        val docs = TextOps.lmDocs(Tables.documents(s, d)).cache()
        Materialize("text:tx_lm_score:score", lmPlan(docs), docs)
      },
      Some(lmOracleSql),
      doc = "CCNet-style LM quality scoring: train-split Laplace bigram " +
        "LM, mean per-bigram surprise in bits, corpus-decile " +
        "head/middle/tail buckets"),

    // tx_lm_score's steady-state form: the bigram count table is the
    // PERSISTED model (Models.bigramLm — fit once on the train split,
    // a small table read thereafter); scoring broadcasts it and
    // derives marginal + vocabulary on load. Same retraining oracle:
    // the hash match proves reload == retrain for the LM artifact.
    "tx_lm_score_indexed" -> QueryDef(
      (s, d) => {
        val docs = TextOps.lmDocs(Tables.documents(s, d)).cache()
        Materialize("text:tx_lm_score_indexed:score",
          lmScoreWith(docs, graft.sources.Models.bigramLm(s, d)), docs)
      },
      Some(lmOracleSql),
      doc = "LM quality scoring from the PERSISTED bigram model: " +
        "fit once per corpus, per-run cost is the broadcast scoring " +
        "pass — oracle retrains from scratch"),

    // PII scrubbing — the redaction pass every public-web training
    // corpus runs (emails and IPv4 addresses here; the pattern set is
    // the extension point). Pure scan-stage column expressions: count
    // matches, then hash the globally-redacted text so the oracle can
    // verify the REPLACEMENT itself byte-for-byte without shipping
    // full scrubbed documents through the compare. Both regexes stay
    // inside the Java∩RE2 common subset so Spark and DuckDB agree on
    // every match boundary.
    "tx_pii_scrub" -> QueryDef(
      (s, d) => {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        Tables.documents(s, d).select(col("doc_id"),
          regexp_count(col("text"), lit(email)).as("n_emails"),
          regexp_count(col("text"), lit(ipv4)).as("n_ips"),
          md5(encode(
            regexp_replace(
              regexp_replace(col("text"), email, "<EMAIL>"),
              ipv4, "<IP>"), "UTF-8")).as("scrubbed_md5"))
          .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id,
          |  CAST(len(regexp_extract_all(text,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
          |    AS n_emails,
          |  CAST(len(regexp_extract_all(text,
          |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
          |  md5(regexp_replace(regexp_replace(text,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'))
          |    AS scrubbed_md5
          |FROM documents ORDER BY doc_id""".stripMargin),
      doc = "PII scrub: email/IPv4 redaction counts + md5 of the " +
        "globally-redacted text (replacement verified byte-for-byte)"),

    // Top tf-idf terms per document — the "what is this doc about"
    // signal keyword extraction / topic-drift monitoring runs over a
    // corpus. Same broadcast-dimension shape as tx_rarity: term
    // frequencies shuffle once on the uniform (doc_id, term) key, the
    // vocabulary-sized df table and the single-row corpus count
    // broadcast, the per-doc top-3 window is doc-sized. idf is the
    // plain ratio N/df (no transcendental: ln() is not bit-identical
    // across engines, a ratio of exact integers in one double multiply
    // and divide is), ranked per doc with a term tiebreak.
    "tx_tfidf_terms" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
          .cache()
        Materialize("text:tx_tfidf_terms:score", tfidfPlan(docs), docs)
      },
      Some(
        """WITH w AS (
          |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
          |  FROM documents),
          |tf AS (
          |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
          |  FROM (SELECT doc_id, unnest(w) AS term FROM w) GROUP BY 1, 2),
          |dft AS (
          |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM (
          |    SELECT unnest(list_distinct(w)) AS term FROM w)
          |  GROUP BY term),
          |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
          |SELECT doc_id, term, tf, df, score FROM (
          |  SELECT tf.doc_id, tf.term, tf.tf, dft.df,
          |         CAST(tf.tf AS DOUBLE) * n.n / dft.df AS score,
          |         row_number() OVER (PARTITION BY tf.doc_id
          |           ORDER BY CAST(tf.tf AS DOUBLE) * n.n / dft.df DESC,
          |                    tf.term) AS rnk
          |  FROM tf JOIN dft USING (term), n)
          |WHERE rnk <= 3
          |ORDER BY doc_id, term""".stripMargin),
      doc = "top-3 tf-idf terms per document: broadcast df + corpus " +
        "count, ratio idf (exact cross-engine), per-doc window top-k"),

    // C4 heuristic cleaning (Raffel et al. 2020 §2.2): keep only lines
    // that end in terminal punctuation AND have >= 5 words; a page
    // survives if >= 3 lines remain and it contains neither "lorem
    // ipsum" nor a curly brace (code). All per-row higher-order-function
    // column expressions — zero shuffle, the whole filter runs inside
    // the scan stage. cleaned_md5 hashes the kept lines joined by \n so
    // the oracle verifies the line-level edit byte-for-byte. (Deviation
    // from the paper: terminal punctuation is [.!?] — we skip the
    // closing-quote variant to keep one regex both engines match
    // identically.)
    "tx_c4_filter" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          split(col("text"), "\n").as("ls"),
          TextOps.c4KeptLines(col("text")).as("kept"))
        .select(col("doc_id"),
          size(col("ls")).cast("long").as("n_lines"),
          size(col("kept")).cast("long").as("n_kept"),
          TextOps.c4PageKeep(col("text"), col("kept")).as("keep"),
          md5(encode(array_join(col("kept"), "\n"), "UTF-8"))
            .as("cleaned_md5"))
        .orderBy("doc_id"),
      Some(
        """WITH c AS (
          |  SELECT doc_id, text, string_split(text, chr(10)) AS ls,
          |    [l FOR l IN string_split(text, chr(10))
          |       IF regexp_matches(rtrim(l), '[.!?]$')
          |          AND len(regexp_extract_all(l, '\S+')) >= 5] AS kept
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(len(ls) AS BIGINT) AS n_lines,
          |  CAST(len(kept) AS BIGINT) AS n_kept,
          |  len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
          |    AND NOT contains(text, '{') AS keep,
          |  md5(coalesce(array_to_string(kept, chr(10)), '')) AS cleaned_md5
          |FROM c ORDER BY doc_id""".stripMargin),
      doc = "C4 heuristic cleaning: terminal-punctuation + >=5-word line " +
        "gate, >=3-line / lorem-ipsum / curly-brace page gate, kept " +
        "lines verified by md5"),

    // fastText-style quality-classifier inference (Joulin et al. 2016):
    // hashed bag of unigrams+bigrams, per-bucket integer weights derived
    // from md5 so the oracle replays the model without a weights file.
    // Inference is a zero-shuffle scan-stage projection — the shape a
    // broadcast-weights deployment keeps at 100 TB. Sum/count are exact
    // int64; the one closing division is IEEE-deterministic.
    "tx_quality_model" -> QueryDef(
      (s, d) => TextOps.qmScored(Tables.documents(s, d), "doc_id", "text")
        .withColumn("keep", col("score") > 0)
        .orderBy("doc_id"),
      Some(s"""WITH t AS (
        |  SELECT doc_id,
        |         string_split_regex(trim(lower(text)), '\\s+') AS toks
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, list_concat(toks,
        |    CASE WHEN len(toks) >= 2 THEN
        |      [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]
        |    ELSE [] END) AS feats FROM t),
        |sc AS (
        |  SELECT doc_id, CAST(len(feats) AS BIGINT) AS n_feats,
        |    CAST(list_sum(list_transform(feats, x ->
        |      CAST(concat('0x', substr(md5('w:' || CAST(
        |        CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)
        |          % ${TextOps.QmBuckets} AS VARCHAR)), 1, 15)) AS BIGINT)
        |        % ${TextOps.QmWeightRange} - 1000)) AS BIGINT) AS w_sum
        |  FROM f)
        |SELECT doc_id, n_feats, w_sum,
        |  CAST(w_sum AS DOUBLE) / CAST(n_feats * 1000 AS DOUBLE) AS score,
        |  CAST(w_sum AS DOUBLE) / CAST(n_feats * 1000 AS DOUBLE) > 0 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin),
      doc = "fastText-style hashed linear classifier inference: " +
        "unigram+bigram hashing trick, md5-derived integer weights, " +
        "zero-shuffle scan-stage scoring"),

    // KMV cardinality sketch (Bar-Yossef et al. 2002 / theta-sketch
    // family): per-source distinct-token estimate from the k=256
    // smallest 52-bit token hashes. The sketch branch aggregates the
    // RAW occurrence stream with the bounded-state kmv_mins
    // TypedImperativeAggregate — map-side partials, O(k) per group, the
    // 100 TB shape (no distinct materialization). The exact branch
    // exists only to put the sketch's error on display next to it; a
    // production pipeline drops it. 52-bit hashes (13 md5 hex chars)
    // keep every value exactly representable in a double, so the one
    // closing division is IEEE-deterministic and the estimate
    // hash-matches DuckDB's replay (ORDER BY h LIMIT k — KMV is the one
    // mainstream sketch an independent engine reproduces exactly).
    "tx_vocab_kmv" -> QueryDef(
      (s, d) => {
        val k = 256
        val toks = Tables.documents(s, d)
          .select(col("source"),
            explode(TextOps.tokens(col("text"))).as("tok"))
          .select(col("source"),
            conv(substring(md5(encode(col("tok"), "UTF-8")), 1, 13),
              16, 10).cast("long").as("h"))
        val sk = toks.groupBy("source")
          .agg(GraftFunctions.kmvMins(col("h"), k).as("mins"))
          .select(col("source"),
            size(col("mins")).cast("long").as("sketch_n"),
            try_element_at(col("mins"), lit(k)).as("kth_min"))
        val ex = toks.distinct()
          .groupBy("source").agg(count(lit(1)).as("n_exact"))
        sk.join(ex, "source")
          .select(col("source"), col("sketch_n"),
            coalesce(col("kth_min"), lit(0L)).as("kth_min"),
            col("n_exact"),
            when(col("sketch_n") < k, col("sketch_n").cast("double"))
              .otherwise(lit(255.0) * lit(4503599627370496.0) /
                col("kth_min").cast("double")).as("est_distinct"))
          .orderBy("source")
      },
      Some(
        """WITH tok AS (
          |  SELECT source,
          |         unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
          |  FROM documents),
          |h AS (
          |  SELECT DISTINCT source,
          |         CAST(concat('0x', substr(md5(tok), 1, 13)) AS BIGINT) AS h
          |  FROM tok),
          |r AS (
          |  SELECT source, h,
          |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
          |  FROM h),
          |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact
          |       FROM h GROUP BY source),
          |m AS (SELECT source, CAST(count(*) AS BIGINT) AS sketch_n,
          |             max(h) AS kth_min
          |      FROM r WHERE rn <= 256 GROUP BY source)
          |SELECT source, sketch_n,
          |  CASE WHEN sketch_n < 256 THEN CAST(0 AS BIGINT)
          |       ELSE kth_min END AS kth_min,
          |  n_exact,
          |  CASE WHEN sketch_n < 256 THEN CAST(sketch_n AS DOUBLE)
          |       ELSE 255.0 * 4503599627370496.0 / CAST(kth_min AS DOUBLE)
          |  END AS est_distinct
          |FROM m JOIN ex USING (source) ORDER BY source""".stripMargin),
      doc = "KMV distinct-count sketch: k=256 smallest 52-bit token " +
        "hashes per source via a bounded-state TypedImperativeAggregate " +
        "(map-side partials), estimate vs exact on display"),

    "tx_fingerprint" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            TextOps.mdFingerprint(col("text")).as("fp_md5"),
            TextOps.rollFingerprint(col("text")).as("fp_roll"))
          .orderBy("doc_id"),
      Some(
        """SELECT doc_id, md5(norm) AS fp_md5,
          |  CAST(CASE WHEN fp >= 9223372036854775808::HUGEINT
          |            THEN fp - 18446744073709551616::HUGEINT ELSE fp END AS BIGINT) AS fp_roll
          |FROM (
          |  SELECT doc_id, norm,
          |    list_reduce(
          |      list_prepend(0::HUGEINT, [unicode(c)::HUGEINT for c in regexp_extract_all(norm, '.')]),
          |      (acc, x) -> (acc * 31 + x) % 18446744073709551616::HUGEINT) AS fp
          |  FROM (SELECT doc_id,
          |          regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm
          |        FROM documents)
          |) ORDER BY doc_id""".stripMargin),
      doc = "document fingerprinting: md5(normal form) + 64-bit rolling hash"),

    // BPE pair-merge training (Sennrich et al. 2016): the actual merge
    // loop — not a frequency-vocab proxy — with every round's argmax
    // pair and count hash-matched against an unrolled DuckDB CTE chain
    // that replays the training (same dictionary, same tie-break, same
    // two-pass replace application). Corpus is scanned ONCE (the word
    // dictionary); each round is dictionary-sized.
    "tx_bpe_merges" -> QueryDef(
      (s, d) => {
        val (merges, _) = TextOps.bpeTrain(Tables.documents(s, d), "text")
        merges.orderBy("round")
      },
      Some(bpeOracle(TextOps.BpeRounds,
        """SELECT * FROM merges ORDER BY round""")),
      doc = "BPE merge training: argmax adjacent pair per round over the " +
        "word-frequency dictionary, lexicographic tie-break, oracle " +
        "replays all rounds"),

    // The trained tokenizer applied back to the corpus: every word is
    // joined to its trained segmentation (a dictionary-sized equi-join),
    // per-doc BPE token counts + an order-sensitive md5 over the full
    // segmented text — one hash pins every merge decision at every
    // position of every document.
    "tx_bpe_segment" -> QueryDef(
      (s, d) => bpeSegmentQuery(Tables.documents(s, d),
        TextOps.bpeTrain(Tables.documents(s, d), "text")._2),
      Some(bpeSegmentOracle),
      doc = "trained BPE applied to the corpus: dictionary equi-join, " +
        "per-doc token counts + order-sensitive segmentation md5"),

    // The steady-state form: the trained dictionary is a PERSISTED
    // bucketed lake table (Models.bpe — trained once per corpus, a
    // dictionary-sized zero-exchange read thereafter), so the query is
    // pure apply over the stored artifact. Same oracle as
    // tx_bpe_segment — the oracle retrains from scratch, so the hash
    // match proves reload ≡ retrain.
    "tx_bpe_segment_indexed" -> QueryDef(
      (s, d) => bpeSegmentQuery(Tables.documents(s, d),
        graft.sources.Models.bpe(s, d)._2),
      Some(bpeSegmentOracle),
      doc = "steady-state BPE apply: persisted bucketed dictionary " +
        "(zero dictionary-side exchange), oracle retrains — reload " +
        "matches retrain")
  ) + kmvSetopsDef


  /** Shared apply-the-dictionary body of the two BPE segmentation
    * queries (retrain-per-run vs persisted dictionary): explode words
    * with position, join the segmentation dictionary, per-doc token
    * counts + an order-sensitive md5 over the full segmented text,
    * LEFT JOIN back to documents so empty/whitespace-only docs survive
    * with zeros. One definition — the two entries cannot drift. */
  private def bpeSegmentQuery(docs: org.apache.spark.sql.DataFrame,
      segs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val words = docs.select(col("doc_id"),
      posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "word")))
      .filter(col("word") =!= "")
    val perDoc = words.join(segs.select("word", "seg"), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(size(split(trim(col("seg")), " ")).cast("long"))
          .as("n_bpe_tokens"),
        md5(encode(array_join(expr(
          "transform(array_sort(collect_list(struct(pos, seg))), x -> trim(x.seg))"),
          " "), "UTF-8")).as("seg_md5"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
        coalesce(col("seg_md5"), lit("")).as("seg_md5"))
      .orderBy("doc_id")
  }

  /** The one oracle both segmentation entries share. */
  private lazy val bpeSegmentOracle: String = bpeOracle(TextOps.BpeRounds,
    s"""SELECT d.doc_id,
       |       coalesce(n_words, CAST(0 AS BIGINT)) AS n_words,
       |       coalesce(n_bpe_tokens, CAST(0 AS BIGINT)) AS n_bpe_tokens,
       |       coalesce(seg_md5, '') AS seg_md5
       |FROM documents d LEFT JOIN pd USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin,
    s""",
       |wrds AS (
       |  SELECT doc_id, i AS pos, w[i] AS word
       |  FROM (SELECT doc_id,
       |               string_split_regex(trim(lower(text)), '\\s+') AS w
       |        FROM documents),
       |       unnest(range(1, len(w) + 1)) AS u(i)
       |  WHERE w[i] <> ''),
       |ap AS (
       |  SELECT doc_id, pos, trim(s.seg) AS seg,
       |         len(string_split(trim(s.seg), ' ')) AS ntk
       |  FROM wrds JOIN s${TextOps.BpeRounds} s USING (word)),
       |pd AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(ntk) AS BIGINT) AS n_bpe_tokens,
       |         md5(string_agg(seg, ' ' ORDER BY pos)) AS seg_md5
       |  FROM ap GROUP BY doc_id)""".stripMargin)

  /** KMV set-operation entry, separate val to keep `defs` readable. */
  private lazy val kmvSetopsDef: (String, QueryDef) = {
    val k = 256
    val M = 4503599627370496.0 // 2^52
    val srcs = Seq("src0", "src1", "src2", "src3")
    "tx_kmv_setops" -> QueryDef(
      (s, d) => {
        // feeds sketches AND exact counts
        val hs = Materialize("text:tx_kmv_setops:shingles",
          Tables.documents(s, d)
          .filter(col("source").isin(srcs: _*))
          .select(col("source"), TextOps.tokens(col("text")).as("toks"))
          .select(col("source"), explode(TextOps.ngrams(col("toks"), 3)).as("s3"))
          .select(col("source"),
            conv(substring(md5(encode(col("s3"), "UTF-8")), 1, 13), 16, 10)
              .cast("long").as("h"))
          .distinct())
        val sk = hs.groupBy("source")
          .agg(GraftFunctions.kmvMins(col("h"), k).as("mins"))
        val pairs = sk
          .select(col("source").as("src_a"), col("mins").as("ma"))
          .crossJoin(sk.select(col("source").as("src_b"),
            col("mins").as("mb")))
          .filter(col("src_a") < col("src_b"))
          .withColumn("umins", expr(
            s"slice(array_sort(array_distinct(concat(ma, mb))), 1, $k)"))
          .withColumn("u_n", size(col("umins")).cast("long"))
          .withColumn("u_kth",
            coalesce(expr(s"try_element_at(umins, $k)"), lit(0L)))
          .withColumn("inter_k", size(expr(
            "array_intersect(array_intersect(umins, ma), mb)")).cast("long"))
        val estU = lit((k - 1).toDouble) * lit(M) / col("u_kth").cast("double")
        val ns = hs.groupBy("source").agg(count(lit(1)).as("n"))
        val exi = hs.select(col("source").as("src_a"), col("h"))
          .join(hs.select(col("source").as("src_b"), col("h")), "h")
          .filter(col("src_a") < col("src_b"))
          .groupBy("src_a", "src_b").agg(count(lit(1)).as("ei"))
        pairs
          .join(ns.select(col("source").as("src_a"), col("n").as("na")),
            "src_a")
          .join(ns.select(col("source").as("src_b"), col("n").as("nb")),
            "src_b")
          .join(exi, Seq("src_a", "src_b"), "left")
          .select(col("src_a"), col("src_b"), col("u_n"),
            when(col("u_n") < k, col("u_n").cast("double"))
              .otherwise(estU).as("est_union"),
            when(col("u_n") < k, col("inter_k").cast("double"))
              .otherwise(col("inter_k").cast("double") / lit(k.toDouble) * estU)
              .as("est_inter"),
            (col("na") + col("nb") - coalesce(col("ei"), lit(0L)))
              .as("exact_union"),
            coalesce(col("ei"), lit(0L)).as("exact_inter"))
          .orderBy("src_a", "src_b")
      },
      Some(
        s"""WITH t AS (
           |  SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS w
           |  FROM documents
           |  WHERE source IN (${srcs.map(x => s"'$x'").mkString(", ")})),
           |hs AS (
           |  SELECT DISTINCT source,
           |         CAST(concat('0x', substr(md5(
           |           w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 13))
           |           AS BIGINT) AS h
           |  FROM t, unnest(range(1, len(w) - 1)) AS u(i)
           |  WHERE len(w) >= 3),
           |r AS (SELECT source, h,
           |             row_number() OVER (PARTITION BY source ORDER BY h)
           |               AS rn
           |      FROM hs),
           |mins AS (SELECT source, h FROM r WHERE rn <= $k),
           |pu AS (SELECT a.source AS src_a, b.source AS src_b
           |       FROM (SELECT DISTINCT source FROM hs) a
           |       JOIN (SELECT DISTINCT source FROM hs) b
           |         ON a.source < b.source),
           |um AS (SELECT pu.src_a, pu.src_b, m.h
           |       FROM pu JOIN mins m ON m.source = pu.src_a
           |       UNION
           |       SELECT pu.src_a, pu.src_b, m.h
           |       FROM pu JOIN mins m ON m.source = pu.src_b),
           |ur AS (SELECT src_a, src_b, h,
           |              row_number() OVER (PARTITION BY src_a, src_b
           |                                 ORDER BY h) AS rn
           |       FROM um),
           |us AS (SELECT src_a, src_b, h FROM ur WHERE rn <= $k),
           |ustat AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS u_n,
           |                 max(h) AS u_kth
           |          FROM us GROUP BY 1, 2),
           |icnt AS (SELECT us.src_a, us.src_b,
           |                CAST(count(*) AS BIGINT) AS inter_k
           |         FROM us
           |         JOIN mins ma ON ma.source = us.src_a AND ma.h = us.h
           |         JOIN mins mb ON mb.source = us.src_b AND mb.h = us.h
           |         GROUP BY 1, 2),
           |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n
           |       FROM hs GROUP BY 1),
           |exi AS (SELECT a.source AS src_a, b.source AS src_b,
           |               CAST(count(*) AS BIGINT) AS ei
           |        FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
           |        GROUP BY 1, 2)
           |SELECT u.src_a, u.src_b, u.u_n,
           |  CASE WHEN u.u_n < $k THEN CAST(u.u_n AS DOUBLE)
           |       ELSE CAST(${k - 1} AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / CAST(u.u_kth AS DOUBLE)
           |  END AS est_union,
           |  CASE WHEN u.u_n < $k
           |       THEN CAST(coalesce(i.inter_k, 0) AS DOUBLE)
           |       ELSE CAST(coalesce(i.inter_k, 0) AS DOUBLE) / CAST($k AS DOUBLE) *
           |            (CAST(${k - 1} AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
           |             / CAST(u.u_kth AS DOUBLE))
           |  END AS est_inter,
           |  na.n + nb.n - coalesce(e.ei, CAST(0 AS BIGINT)) AS exact_union,
           |  coalesce(e.ei, CAST(0 AS BIGINT)) AS exact_inter
           |FROM ustat u
           |JOIN ns na ON na.source = u.src_a
           |JOIN ns nb ON nb.source = u.src_b
           |LEFT JOIN icnt i ON i.src_a = u.src_a AND i.src_b = u.src_b
           |LEFT JOIN exi e ON e.src_a = u.src_a AND e.src_b = u.src_b
           |ORDER BY u.src_a, u.src_b""".stripMargin),
      doc = "KMV sketch set operations (Beyer et al. 2007): cross-source " +
        "shingle-overlap estimates — union via k-th min of the merged " +
        "sketch, intersection via the union-sketch membership ratio — " +
        "next to the exact answers, all deterministic")
  }

  /** Unrolled DuckDB replay of [[TextOps.bpeTrain]]: CTEs `w` (word
    * dictionary), `s0` (char segmentation), then per round `r`:
    * `p{r}` pair counts → `b{r}` argmax with lexicographic tie-break →
    * `s{r}` two-pass replace application; plus a `merges` union. The
    * SQL is GENERATED from the same round count the Spark side uses, so
    * the constants cannot drift. */
  private def bpeOracle(rounds: Int, body: String, extraCtes: String = "")
      : String = {
    val sb = new StringBuilder
    sb ++=
      """WITH w AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
        |          AS word
        |        FROM documents)
        |  WHERE word <> '' GROUP BY 1),
        |s0 AS MATERIALIZED (
        |  SELECT word, c,
        |         ' ' || array_to_string(string_split(word, ''), ' ') || ' '
        |           AS seg
        |  FROM w)""".stripMargin
    for (r <- 1 to rounds) {
      sb ++=
        s""",
           |p$r AS MATERIALIZED (
           |  SELECT pr, CAST(sum(c) AS BIGINT) AS pc FROM (
           |    SELECT c, toks[i] || ' ' || toks[i + 1] AS pr
           |    FROM (SELECT c, string_split(trim(seg), ' ') AS toks
           |          FROM s${r - 1}),
           |         unnest(range(1, len(toks))) AS u(i))
           |  GROUP BY 1),
           |b$r AS MATERIALIZED (SELECT pr, pc FROM p$r ORDER BY pc DESC, pr LIMIT 1),
           |s$r AS MATERIALIZED (
           |  SELECT word, c,
           |         CASE WHEN (SELECT count(*) FROM b$r) = 0 THEN seg
           |              ELSE replace(replace(seg,
           |                ' ' || (SELECT pr FROM b$r) || ' ',
           |                ' ' || (SELECT replace(pr, ' ', '') FROM b$r) || ' '),
           |              ' ' || (SELECT pr FROM b$r) || ' ',
           |              ' ' || (SELECT replace(pr, ' ', '') FROM b$r) || ' ')
           |         END AS seg
           |  FROM s${r - 1})""".stripMargin
    }
    sb ++= ",\nmerges AS (" + (1 to rounds).map(r =>
      s"SELECT $r AS round, pr AS pair, pc AS pair_count FROM b$r")
      .mkString("\n  UNION ALL ") + ")"
    sb ++= extraCtes
    sb ++= "\n" + body
    sb.toString
  }
}
