package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Text-analysis kernels for the training-data pipeline surface: token
  * counting, language identification, quality scoring, fingerprinting.
  *
  * Everything here is a pure `Column` expression (whole-stage-codegen'd
  * built-ins — no UDFs), so at 100 TB these run inside the parquet scan
  * stage with zero extra shuffles; only the final aggregations (if any)
  * shuffle. Regex dialect is restricted to the Java∩RE2 subset so the
  * DuckDB oracle evaluates the identical predicate.
  */
object TextOps {

  // ---- tokenization ------------------------------------------------------

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish token regex: letter runs | digit runs | single symbol.
    * The standard pre-tokenizer shape (GPT-2-style, simplified to the
    * Java∩RE2 regex subset). */
  val BpeTokenPattern = "\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]"

  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpeTokenPattern))

  /** Lowercased whitespace tokens as an array (dedup shingle input). */
  def tokens(text: Column): Column =
    split(trim(lower(text)), "\\s+")

  /** Token document frequencies `(tok, df)` over tokenized docs
    * `(doc_id, w)` — the vocabulary-sized corpus statistic behind the
    * rarity/tf-idf dials: one map-side-combined aggregate whose output
    * is the vocabulary, not the corpus. */
  def dfTable(docs: DataFrame): DataFrame =
    docs.select(explode(array_distinct(col("w"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))

  // ---- CCNet-style bigram LM (the quality-scoring model) -----------------

  /** Tokenized docs `(doc_id, h, w)` for the LM paths: md5 split hash +
    * whitespace tokens, ≥2-token docs only (a bigram model needs at
    * least one bigram per doc). */
  def lmDocs(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      md5(encode(col("doc_id").cast("string"), "UTF-8")).as("h"),
      tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)

  /** Per-position bigram rows `(doc_id, h, prev, tok)` — zero-shuffle
    * scan-stage explode shared by fit and score. */
  def lmBigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("h"),
      explode(arrays_zip(
        slice(col("w"), lit(1), size(col("w")) - 1).as("prev"),
        slice(col("w"), lit(2), size(col("w")) - 1).as("tok"))).as("b"))
      .select(col("doc_id"), col("h"),
        col("b.prev").as("prev"), col("b.tok").as("tok"))

  /** Fit the Laplace-smoothed bigram LM on the train split (`h <
    * 'cc'`, the ds_split boundary): the MODEL is just the
    * `(prev, tok, c2)` count table — vocabulary²-bounded, map-side
    * combined, ONE shuffle on the bigram key — from which the scoring
    * side derives the prefix marginal and the vocabulary size
    * (every train token occurrence is the prev or tok of some bigram,
    * so distinct tokens ≡ distinct(prev) ∪ distinct(tok)). */
  def lmFit(docs: DataFrame): DataFrame =
    lmBigrams(docs).filter(col("h") < "cc")
      .groupBy("prev", "tok").agg(count(lit(1)).as("c2"))

  // ---- subword tokenization (deterministic corpus-derived vocab) ---------

  /** Subword vocabulary parameters: character n-gram lengths counted
    * for the vocabulary, and the vocabulary size. Single characters are
    * NOT vocabulary entries — they are the tokenizer's unconditional
    * fallback, which is what makes tokenization total without `<unk>`. */
  val SubwordMinGram = 2
  val SubwordMaxGram = 4
  val SubwordVocabK = 64

  /** All character n-grams (lengths [[SubwordMinGram]]..[[SubwordMaxGram]],
    * every position, with multiplicity) of one word, as a pure column
    * expression. The `when` guard matters for short words: Spark's
    * `sequence(1, len-l+1)` would generate a DESCENDING sequence when
    * `len < l`. (Kept as the reference spelling the native
    * [[graft.functions.CharGrams]] kernel is pinned against —
    * [[subwordVocab]] uses the kernel.) */
  def subwordGrams(w: Column): Column =
    flatten(array((SubwordMinGram to SubwordMaxGram).map { l =>
      when(length(w) >= l,
        transform(sequence(lit(1), length(w) - (l - 1)),
          i => w.substr(i, lit(l))))
        .otherwise(typedLit(Seq.empty[String]))
    }: _*))

  /** Deterministic subword vocabulary: the top-K character n-grams of
    * the corpus's lowercased whitespace words by occurrence count, ties
    * broken by gram ascending — reproducible from the corpus alone, by
    * any engine (the DuckDB oracle re-derives it in SQL and the
    * `tx_subword_vocab` entry hash-matches the table itself).
    * Returns `(gram, cnt)` in rank order.
    *
    * Scale shape: gram extraction is a scan-stage explode; the count
    * aggregate is map-side combined and its key domain is bounded by
    * |charset|^4, not the corpus; the final top-K is a TakeOrdered —
    * no global sort. The K-row result is the bounded driver-side state
    * a tokenizer ships to every task (same class as the IVF centroid
    * table). */
  def subwordVocab(docs: DataFrame, k: Int = SubwordVocabK): DataFrame = {
    // native char_grams kernel: the HOF spelling paid an interpreted
    // lambda + a sliced-string allocation per (word × length ×
    // position) — millions per corpus scan; equivalence (order
    // included) pinned in TextOpsSpec.
    docs.select(explode(tokens(col("text"))).as("wd"))
      .select(explode(graft.functions.GraftFunctions
        .charGrams(col("wd"), SubwordMinGram, SubwordMaxGram)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)
  }

  /** The vocabulary as a driver-side Seq for embedding into
    * [[graft.functions.SubwordTokens]] as a plan literal (a K-row
    * bounded collect — the "train once, broadcast everywhere" step). */
  def subwordVocabSeq(docs: DataFrame, k: Int = SubwordVocabK): Seq[String] =
    subwordVocab(docs, k).collect().map(_.getString(0)).toSeq

  // ---- language identification (n-gram/marker-word heuristic) -----------

  /** Distinctive high-frequency marker words per Latin-script language.
    * Order of map iteration is irrelevant: prediction is computed with
    * an order-independent `greatest()` over (count, lang) pairs. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en" -> Seq("the", "and", "was", "his", "that", "with", "for"),
    "es" -> Seq("el", "los", "las", "una", "por", "con", "para", "que"),
    "fr" -> Seq("le", "les", "des", "une", "est", "dans", "et", "qui"))

  /** CJK ideograph presence → zh (no whitespace segmentation needed). */
  val CjkPattern = "[\\x{4E00}-\\x{9FFF}]"

  def markerCount(text: Column, lang: String): Column =
    regexp_count(lower(text),
      lit("\\b(" + LangMarkers(lang).mkString("|") + ")\\b"))

  /** Predicted language: 'zh' on any CJK ideograph, else argmax of
    * marker-word counts ('und' when no marker hits). Ties break toward
    * the lexicographically larger language tag via string-max of
    * zero-padded `count || lang` — deterministic and oracle-replicable. */
  def langId(text: Column): Column = {
    val zh = regexp_count(text, lit(CjkPattern))
    val scored = LangMarkers.keys.toSeq.sorted.map { l =>
      concat(lpad(markerCount(text, l).cast("string"), 6, "0"), lit(l))
    }
    val best = greatest(scored: _*)
    when(zh > 0, lit("zh"))
      .when(substring(best, 1, 6) === "000000", lit("und"))
      .otherwise(substring(best, 7, 2))
  }

  // ---- quality scoring ---------------------------------------------------

  /** Per-document quality metrics + composite score in [0,1].
    * All ratios are exact-int numerators/denominators divided in double
    * with a fixed expression tree, so Spark and the oracle produce
    * bit-identical doubles. */
  def qualityMetrics(text: Column): Seq[(String, Column)] = {
    val nChars = length(text).cast("double")
    val nWords = wsTokenCount(text).cast("double")
    val punct = regexp_count(text, lit("\\p{P}")).cast("double")
    val alpha = regexp_count(text, lit("[\\p{L}\\x{4E00}-\\x{9FFF}]"))
      .cast("double")
    val stops = (markerCount(text, "en") + markerCount(text, "es") +
      markerCount(text, "fr") + markerCount(text, "de")).cast("double")
    val noSpace = length(regexp_replace(text, "\\s", "")).cast("double")
    val lenScore = least(lit(1.0), nWords / 100.0)
    val punctScore = lit(1.0) - least(lit(1.0), punct * 5.0 / nChars)
    val stopScore = least(lit(1.0), stops * 3.0 / nWords)
    val alphaScore = alpha / nChars
    Seq(
      "n_words" -> nWords.cast("long"),
      "avg_word_len" -> (noSpace / nWords),
      "punct_ratio" -> (punct / nChars),
      "alpha_ratio" -> alphaScore,
      "stop_ratio" -> (stops / nWords),
      "quality" -> ((lenScore + punctScore + stopScore + alphaScore) * 0.25))
  }

  /** The ingest gate (language ID + composite quality + length) as ONE
    * reusable boolean Column — the exact predicate
    * [[graft.streaming.EventStreams.ingestGate]] fuses in front of its
    * watermark-bounded dedup. Batch backfill (`tx_ingest_gate_batch`)
    * and streaming ingest both call THIS function, so the two paths
    * cannot disagree on what passes the gate. */
  def ingestGate(text: Column, lang: String = "en",
      minQuality: Double = 0.5): Column = {
    val m = qualityMetrics(text).toMap
    langId(text) === lang && m("quality") >= minQuality &&
      m("n_words").between(5, 5000)
  }

  // ---- repetition signals (Gopher-style quality filters) -----------------

  /** Space-joined word n-grams of a token array in position order, the
    * one word-window spelling (empty below n tokens — the `when` guard
    * matters: `sequence(1, size-n+1)` would descend when size < n).
    *
    * `w` must be a BOUND column, projected by an earlier select (e.g.
    * `tokens(text).as("w")`), never an inline expression: `transform` is
    * interpreted (`CodegenFallback`) and evaluates a lambda-free subtree
    * of its body once per element, so an inline `tokens(text)` re-splits
    * the document once per token. `PlanSpec` "no lambda re-derives its
    * input per element" enforces this for every registered query. */
  def ngrams(w: Column, n: Int): Column =
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ",
          (0 until n).map(o => element_at(w, i + lit(o))): _*)))
      .otherwise(typedLit(Seq.empty[String]))

  /** Fraction of duplicated n-grams: `(count - distinct) / count`, 0 for
    * documents shorter than n tokens. Exact-int numerator/denominator
    * divided in double (oracle-bit-identical), zero shuffle. */
  def dupNgramRatio(w: Column, n: Int): Column = {
    val g = ngrams(w, n)
    val cnt = size(g)
    when(cnt > 0,
      (cnt - size(array_distinct(g))).cast("double") / cnt.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Unique-word fraction (`distinct words / words`; split semantics
    * give ≥ 1 token, so no zero guard is needed). */
  def uniqWordRatio(w: Column): Column =
    size(array_distinct(w)).cast("double") / size(w).cast("double")

  // ---- Gopher segment-repetition signals (Rae et al. 2021 Table A1) ------

  /** Non-empty segments of raw `text` split on `sep` (lines: `"\n"`,
    * paragraphs: `"\n\n"` — Gopher's blank-line convention). */
  def segments(text: Column, sep: String): Column =
    filter(split(text, sep), s => s =!= "")

  /** Total characters across a string array (0 when empty). */
  def segChars(s: Column): Column =
    coalesce(aggregate(s, lit(0L), (a, x) => a + length(x).cast("long")),
      lit(0L))

  /** Characters inside occurrences-beyond-the-first of each distinct
    * element of a SORTED string array (duplicates are adjacent — one
    * linear walk, zero shuffle). `s` must be bound, as for [[ngrams]]. */
  def dupAdjacentChars(s: Column): Column =
    when(size(s) >= 2,
      aggregate(sequence(lit(2), size(s)), lit(0L),
        (acc, i) => acc +
          when(element_at(s, i) === element_at(s, i - 1),
            length(element_at(s, i)).cast("long")).otherwise(lit(0L))))
      .otherwise(lit(0L))

  /** Duplicate-segment count fraction: occurrences beyond the first of
    * each distinct segment, over all segments (0 when none). */
  def dupSegmentRatio(s: Column): Column =
    when(size(s) > 0,
      (size(s) - size(array_distinct(s))).cast("double") /
        size(s).cast("double"))
      .otherwise(lit(0.0))

  /** Characters covered by the single most-repeated element of a SORTED
    * string array: `max over distinct g of count(g) * chars(g)` — the
    * numerator of Gopher's top-n-gram character fraction. One stateful
    * run-length walk over the sorted array (struct-state `aggregate`
    * HOF), zero shuffle; 0 for an empty array. */
  def topRunChars(s: Column): Column =
    when(size(s) === 0, lit(0L))
      .when(size(s) === 1, length(element_at(s, 1)).cast("long"))
      .otherwise(aggregate(
        sequence(lit(2), size(s)),
        struct(lit(1).as("cur"),
          length(element_at(s, 1)).cast("long").as("best")),
        (st, i) => {
          val cur = when(element_at(s, i) === element_at(s, i - 1),
            st.getField("cur") + 1).otherwise(lit(1))
          struct(cur.as("cur"),
            greatest(st.getField("best"),
              cur.cast("long") * length(element_at(s, i)).cast("long"))
              .as("best"))
        },
        st => st.getField("best")))

  // ---- C4 heuristic cleaning (Raffel et al. 2020 §2.2) -------------------

  /** The lines of `text` that pass C4's line gate: end in terminal
    * punctuation (`[.!?]` — the paper also admits a closing quote; we
    * keep the regex in the cross-engine-identical subset) AND contain at
    * least five words. A pure higher-order-function projection — runs
    * inside the scan stage. */
  def c4KeptLines(text: Column): Column =
    filter(split(text, "\n"), l =>
      rtrim(l).rlike("[.!?]$") && regexp_count(l, lit("\\S+")) >= 5)

  /** C4's page gate over the kept lines: at least three survive, and
    * the raw page contains neither "lorem ipsum" nor a curly brace. */
  def c4PageKeep(text: Column, kept: Column): Column =
    size(kept) >= 3 &&
      !lower(text).contains("lorem ipsum") && !text.contains("{")

  // ---- hashed linear classifier inference (fastText-style) ---------------

  /** Hashing-trick bucket count (2^18). fastText defaults to 2M buckets
    * for bigrams (Joulin et al. 2016 §2.1); the count only moves the
    * collision rate, not the plan shape — inference stays a zero-shuffle
    * scan-stage projection at any width. */
  val QmBuckets = 262144L

  /** Weights take 2001 integer values in [-1000, 1000]: exact-int
    * arithmetic end to end, one IEEE division at the end, so the oracle
    * replays inference bit-identically. */
  val QmWeightRange = 2001L

  /** fastText-style feature set of a bound token column `w` ([[ngrams]]):
    * unigrams plus space-joined word bigrams (word n-gram features are
    * the fastText signature — §2.1). */
  def qmFeatures(w: Column): Column = concat(w, ngrams(w, 2))

  /** Deterministic stand-in for a trained weight vector: bucket b gets
    * weight `hash60("w:" + b) mod 2001 - 1000`. A real deployment swaps
    * this for a broadcast float array lookup (same plan shape — a
    * per-element expression inside the scan); the md5 derivation is what
    * makes the DuckDB oracle able to replay the model without a weights
    * file. */
  def qmWeight(bucket: Column): Column =
    Dedup.tokenHash60(concat(lit("w:"), bucket.cast("string"))) %
      QmWeightRange - lit(1000L)

  /** Classifier inference: `(idCol, n_feats, w_sum, score)`, the score
    * being the mean feature weight normalized to [-1, 1] by the weight
    * scale. Tokens, features and sums are each bound before the next
    * stage reads them ([[ngrams]]). Sum and count are exact int64
    * (< 2^53), so the one closing division is IEEE-deterministic. */
  def qmScored(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val id = col(idCol)
    docs.select(id, tokens(col(textCol)).as("w"))
      .select(id, qmFeatures(col("w")).as("feats"))
      .select(id, size(col("feats")).cast("long").as("n_feats"),
        aggregate(col("feats"), lit(0L),
          (acc, f) => acc + qmWeight(Dedup.tokenHash60(f) % QmBuckets))
          .as("w_sum"))
      .select(id, col("n_feats"), col("w_sum"),
        (col("w_sum").cast("double") /
          (col("n_feats") * lit(1000L)).cast("double")).as("score"))
  }

  // ---- fingerprinting ----------------------------------------------------

  /** Whitespace-collapsed lowercase normal form. */
  def normText(text: Column): Column =
    regexp_replace(trim(lower(text)), "\\s+", " ")

  /** Content-defined fingerprint: MD5 of the normal form. */
  def mdFingerprint(text: Column): Column =
    md5(encode(normText(text), "UTF-8"))

  /** 64-bit rolling polynomial fingerprint of the normal form
    * ([[graft.functions.RollingHash]]). */
  def rollFingerprint(text: Column): Column =
    call_function("rolling_hash", normText(text))

  // ---- BPE pair-merge training (Sennrich et al. 2016) --------------------

  /** Merge rounds for the demo BPE queries — enough for merges to chain
    * (later rounds merge the products of earlier ones). */
  val BpeRounds = 6

  /** Word-frequency dictionary: lowercased whitespace words with corpus
    * counts. BPE's defining scale property (Sennrich et al. 2016 §3.2)
    * is that training runs on THIS dictionary-sized table, never the
    * corpus: one corpus scan builds it, every merge round after touches
    * |vocabulary| rows. */
  def bpeWordDict(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("c"))

  /** Initial segmentation: the word as space-joined characters, padded
    * with sentinel spaces so merge application is a plain bounded
    * string replace of ` a b ` with ` ab `. */
  def bpeSeg0(word: Column): Column =
    concat(lit(" "), array_join(split(word, ""), " "), lit(" "))

  /** Frequency of each adjacent symbol pair over the current
    * segmentations, weighted by word count. */
  def bpePairCounts(segs: DataFrame): DataFrame =
    segs.select(col("c"), split(trim(col("seg")), " ").as("toks"))
      .select(col("c"), explode(ngrams(col("toks"), 2)).as("pr"))
      .groupBy("pr").agg(sum("c").as("pc"))

  /** One merge application: every ` a b ` becomes ` ab `. Two
    * sequential left-to-right non-overlapping replaces, because the
    * first pass consumes the shared boundary space of an odd-length
    * same-symbol run (` a a a ` → ` aa a `): the second pass merges
    * what the first's consumed delimiter hid. Both engines scan
    * left-to-right non-overlapping, so the oracle replays the exact
    * same fixpoint-after-two-passes semantics. */
  private def bpeApply(seg: Column, pair: Column): Column = {
    val from = concat(lit(" "), pair, lit(" "))
    val to = concat(lit(" "), call_function("replace", pair, lit(" "), lit("")),
      lit(" "))
    call_function("replace", call_function("replace", seg, from, to), from, to)
  }

  /** BPE pair-merge training: `rounds` rounds of count-pairs → merge
    * the most frequent (ties to the lexicographically smallest pair —
    * deterministic from the corpus alone, which is what lets the DuckDB
    * oracle replay every round bit-for-bit).
    *
    * Returns `(merges, finalSegs)`: `merges` = one row per round
    * `(round, pair, pair_count)` — the learned merge table a tokenizer
    * ships; `finalSegs` = `(word, c, seg)` — the trained dictionary
    * segmentation.
    *
    * Scale: the dictionary is `localCheckpoint`ed once per round so the
    * plan stays flat (the alternative is a 2^rounds lineage). Each
    * round is a dictionary-sized pair aggregate + a TakeOrdered(1) +
    * a broadcast of the single winning pair — corpus data is touched
    * exactly once, in [[bpeWordDict]]. */
  def bpeTrain(docs: DataFrame, textCol: String, rounds: Int = BpeRounds)
      : (DataFrame, DataFrame) = {
    var segs = Materialize("text:bpe_train:word_dict",
      bpeWordDict(docs, textCol).withColumn("seg", bpeSeg0(col("word"))))
    val merges = Seq.newBuilder[DataFrame]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val best = Materialize(s"text:bpe_train:best_pair_$r",
        bpePairCounts(segs).orderBy(col("pc").desc, col("pr")).limit(1))
      if (best.isEmpty) {
        // no adjacent pairs remain (every word fully merged): stop —
        // an empty `best` cross-joined in would silently EMPTY the
        // dictionary. The oracle's per-round CTEs guard the same way
        // (no b_r row → s_r carries s_{r-1} through unchanged), so
        // both sides emit merges only for the rounds that happened.
        exhausted = true
      } else {
        segs = Materialize(s"text:bpe_train:merge_$r", segs
          .crossJoin(broadcast(best.select(col("pr").as("_pr"))))
          .withColumn("seg", bpeApply(col("seg"), col("_pr")))
          .drop("_pr"))
        merges += best.select(lit(r).as("round"), col("pr").as("pair"),
          col("pc").as("pair_count"))
        r += 1
      }
    }
    val built = merges.result()
    val mergesDf =
      if (built.nonEmpty) built.reduce(_ union _)
      else segs.sparkSession.emptyDataFrame
        .select(lit(0).as("round"), lit("").as("pair"),
          lit(0L).as("pair_count"))
        .limit(0)
    (mergesDf, segs)
  }
}
