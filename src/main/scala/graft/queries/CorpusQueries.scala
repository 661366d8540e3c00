package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, QueryDef, Tables}
import graft.operators.{Dedup, TextOps}

/** Corpus-preparation operators for the training-data pipeline: the
  * steps between a filtered/deduped document set and a training run —
  * context-window chunking, deterministic dataset splits, token-budget
  * sharding, and stratified corpus mixing. All engine-portable by
  * construction (md5 + lexicographic thresholds, exact integer window
  * sums and divisions), so the DuckDB oracle hash-matches every one.
  */
object CorpusQueries {

  /** Tokens-per-shard budget for [[defs ds_token_shards]]. */
  val ShardBudget = 4096L

  /** Corpus-mix sampling plan: per-source keep threshold on the first
    * 4 hex chars of `md5(doc_id:source)` (1/65536 rate granularity),
    * with the inverse-rate loss weight the kept rows carry. 'g' sorts
    * above every hex digit = keep-all. One definition drives both the
    * Spark `when`-chain and the oracle CASE, so they cannot drift. */
  val MixPlan: Seq[(String, String, Double)] =
    (0 to 4).map(i => (s"src$i", "g", 1.0)) ++
      (5 to 9).map(i => (s"src$i", "8000", 2.0)) ++
      (10 to 14).map(i => (s"src$i", "4000", 4.0)) ++
      (15 to 19).map(i => (s"src$i", "1999", 10.0))

  /** Window/stride (tokens) for [[defs ds_chunk_windows]]: 32-token
    * windows every 24 tokens = 25% overlap, the usual
    * embedding/pretraining chunking shape scaled to this corpus's
    * ~54-token documents. */
  val ChunkWindow = 32
  val ChunkStride = 24

  /** Training-sequence length (tokens) for [[defs ds_pack_sequences]] —
    * a miniature context window sized to this corpus's ~54-token
    * documents (a few documents per sequence, occasional spans). */
  val SeqLen = 256L

  /** Token-budget sharding with a parameterized shard unit — the
    * two-phase prefix sum that survives a dominant source at 100 TB.
    *
    * `bucket` is any expression monotone non-decreasing in `doc_id`
    * order within a source (a date, a path range, an id-range prefix —
    * whatever unit the corpus is already bucketed by), so the global
    * (source, doc_id) order decomposes into (source, bucket, doc_id)
    * and the result is IDENTICAL to the single-window global prefix
    * sum — the bucketed query entry is oracle-checked against the
    * global SQL formulation, not against its own implementation.
    *
    * Phase 1: each bucket's LOCAL exclusive prefix sum (window
    * partitioned by (source, bucket) — parallelism = #buckets, every
    * window partition executor-sized instead of one task streaming a
    * whole source). Phase 2: per-bucket exclusive base offsets from a
    * bucket-count-sized aggregate, rebased onto the local sums through
    * a broadcast join — the same two-phase shape as the multipart
    * offset rebase (IS2, MetaQueries `is2_offset_rebase`). The plain
    * [[defs ds_token_shards]] single-window form is the
    * bucket-constant special case. Input needs
    * `(doc_id, source, tokens)`. */
  def tokenShards(docs: DataFrame, budget: Long, bucket: Column): DataFrame =
    withTokenOffsets(docs, bucket)
      .select(col("doc_id"), col("source"), col("tokens"),
        expr(s"offset div $budget").as("shard"))

  /** Deterministic epoch shuffle: each document's global training-order
    * position for `epoch` is its rank under `md5(epoch:doc_id)` (ties —
    * practically impossible — broken by doc_id). Rank assignment is the
    * two-phase shape: rank within a 256-way bucket keyed by the digest's
    * first hex byte (bucket order IS key order, so local ranks + a
    * broadcast exclusive bucket-count rebase reproduce the global
    * row_number without a single-partition window). */
  def epochOrder(docs: DataFrame, epoch: Int): DataFrame = {
    val keyed = docs
      .select(col("doc_id"),
        md5(concat_ws(":", lit(epoch), col("doc_id"))).as("k"))
      .withColumn("_bkt", substring(col("k"), 1, 2))
    val wLocal = Window.partitionBy("_bkt").orderBy("k", "doc_id")
    // 256-row bucket-count window: declared-bounded constant partition
    val wBase = graft.operators.Rank.boundedGlobal(col("_bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = keyed.groupBy("_bkt").agg(count(lit(1)).as("_c"))
      .withColumn("_base", coalesce(sum(col("_c")).over(wBase), lit(0L)))
      .select("_bkt", "_base")
    keyed
      .withColumn("_rk", row_number().over(wLocal).cast("long") - 1)
      .join(broadcast(bases), "_bkt")
      .select(col("doc_id"), (col("_base") + col("_rk")).as("pos"))
  }

  /** The two-phase exclusive token prefix sum itself: `(doc_id, source,
    * tokens)` → `+ offset`, the global token offset of each document in
    * (source, doc_id) order. Phase 1 windows within (source, bucket);
    * phase 2 rebases per-bucket exclusive base offsets through a
    * broadcast join. Shared by [[tokenShards]] (offset div budget) and
    * [[defs ds_pack_sequences]] (offset div seqLen + spans). */
  def withTokenOffsets(docs: DataFrame, bucket: Column): DataFrame = {
    val wLocal = Window.partitionBy("source", "_bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wBase = Window.partitionBy("source").orderBy("_bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = docs
      .withColumn("_bkt", bucket)
      .withColumn("_cum", coalesce(sum(col("tokens")).over(wLocal), lit(0L)))
    val bases = local.groupBy("source", "_bkt")
      .agg(sum(col("tokens")).as("_bsum"))
      .withColumn("_base", coalesce(sum(col("_bsum")).over(wBase), lit(0L)))
      .select("source", "_bkt", "_base")
    local.join(broadcast(bases), Seq("source", "_bkt"))
      .select(col("doc_id"), col("source"), col("tokens"),
        (col("_cum") + col("_base")).as("offset"))
  }

  /** Shared oracle for both sharding entries: the GLOBAL single-window
    * formulation — the bucketed implementation must reproduce it
    * exactly, which checks the two-phase decomposition itself, not just
    * the arithmetic. */
  private val tokenShardsSql =
    s"""SELECT doc_id, source, tokens,
       |  CAST(COALESCE(cumb, 0) // $ShardBudget AS BIGINT) AS shard
       |FROM (
       |  SELECT doc_id, source, tokens,
       |    sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cumb
       |  FROM (
       |    SELECT doc_id, source,
       |      CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS tokens
       |    FROM documents))
       |ORDER BY doc_id""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // Context-window chunking: every document becomes ceil-strided
    // overlapping token windows (the step before embedding or packing —
    // long documents must not be truncated, short ones yield one
    // window). Pure per-row explode of a column expression: chunk
    // generation runs inside the scan stage, no shuffle, and at 100 TB
    // the output is written partition-parallel with no driver
    // involvement. Chunk k covers tokens [k*stride, k*stride+window).
    "ds_chunk_windows" -> QueryDef(
      (s, d) => {
        val w = col("w")
        // number of windows: 1 + max(0, ceil((n - window) / stride)),
        // in integer arithmetic (`div` truncates, DuckDB `//` floors —
        // the greatest(0, ·) clamp makes them agree on short docs)
        val extra = expr(
          s"(size(w) - $ChunkWindow + $ChunkStride - 1) div $ChunkStride")
        val nChunks = lit(1) + greatest(lit(0), extra)
        Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
          .select(col("doc_id"),
            explode(transform(sequence(lit(0), nChunks - 1), k =>
              struct(k.cast("long").as("chunk_id"),
                array_join(slice(w, k * ChunkStride + 1, lit(ChunkWindow)), " ")
                  .as("chunk")))).as("c"))
          .select(col("doc_id"), col("c.chunk_id"), col("c.chunk"))
          .orderBy("doc_id", "chunk_id")
      },
      Some(
        s"""SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
           |  array_to_string(list_slice(w, k*$ChunkStride+1, k*$ChunkStride+$ChunkWindow), ' ') AS chunk
           |FROM (
           |  SELECT doc_id, w,
           |    unnest(range(0, 1 + greatest(0,
           |      (len(w) - $ChunkWindow + $ChunkStride - 1) // $ChunkStride))) AS k
           |  FROM (SELECT doc_id,
           |          string_split_regex(trim(lower(text)), '\\s+') AS w
           |        FROM documents))
           |ORDER BY doc_id, chunk_id""".stripMargin),
      doc = s"context-window chunking: $ChunkWindow-token windows at " +
        s"stride $ChunkStride (25% overlap), pure scan-stage explode"),

    // Deterministic train/val/test split: hash each doc id and compare
    // the hex digest lexicographically against fixed thresholds. The
    // md5 hex alphabet is uniform per nibble, so 'cc' ≈ 204/256 = 79.7%
    // train, 'e6' ≈ 90.2% cumulative → ~10% val, rest test. Stable
    // under any corpus growth or reordering (membership depends only on
    // the id), embarrassingly parallel (pure per-row expression in the
    // scan stage), and identical across engines — the property that
    // actually matters: retraining months later with more data must not
    // leak yesterday's test docs into today's train split.
    "ds_split" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          md5(encode(col("doc_id").cast("string"), "UTF-8")).as("h"))
        .select(col("doc_id"),
          when(col("h") < "cc", "train")
            .when(col("h") < "e6", "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  CASE WHEN h < 'cc' THEN 'train'
          |       WHEN h < 'e6' THEN 'val'
          |       ELSE 'test' END AS split
          |FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
          |      FROM documents)
          |ORDER BY doc_id""".stripMargin),
      doc = "deterministic train/val/test split: md5(doc_id) against " +
        "lexicographic hex thresholds (~80/10/10)"),

    // Token-budget sharding: assign documents to ~4096-token shards in
    // deterministic (source, doc_id) order via an exclusive prefix sum —
    // how a corpus becomes equal-work units for tokenizer/packing jobs.
    // This is the single-window form (one window partition per source) —
    // the bucket-constant special case of [[tokenShards]]; at 100 TB a
    // dominant source would serialize through one task, which is what
    // the two-phase ds_token_shards_bucketed entry below is for.
    // Integer sums + truncating div keep both engines bit-identical.
    "ds_token_shards" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            TextOps.wsTokenCount(col("text")).cast("long").as("tokens"))
          .withColumn("cum_before",
            coalesce(sum(col("tokens")).over(w), lit(0L)))
          .select(col("doc_id"), col("source"), col("tokens"),
            expr(s"cum_before div $ShardBudget").as("shard"))
          .orderBy("doc_id")
      },
      Some(tokenShardsSql),
      doc = s"token-budget sharding: exclusive prefix sum over " +
        s"(source, doc_id) order, $ShardBudget tokens per shard"),

    // The scale form of ds_token_shards: identical output (the oracle
    // is the GLOBAL single-window SQL — the hash match checks the
    // two-phase decomposition itself), but the prefix sum is computed
    // per (source, id-range bucket) with per-bucket exclusive base
    // offsets rebased through a broadcast join, so no single task ever
    // streams a whole source. Bucket here is an id-range prefix
    // (doc_id div 64 → ~8 buckets per source at sf0.01); at 100 TB it
    // is whatever unit the corpus is already bucketed by, and on a
    // source-bucketed corpus the whole pass plans ZERO shuffle
    // exchanges (LakeSpec pin).
    "ds_token_shards_bucketed" -> QueryDef(
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            TextOps.wsTokenCount(col("text")).cast("long").as("tokens"))
        tokenShards(toks, ShardBudget, expr("doc_id div 64"))
          .orderBy("doc_id")
      },
      Some(tokenShardsSql),
      doc = s"two-phase token-budget sharding: per-(source, id-bucket) " +
        s"local prefix sums + broadcast base-offset rebase (IS2 shape)"),

    // ds_token_shards_bucketed with REAL token counts: the shard unit
    // is the subword token count (greedy longest-match against the
    // deterministic corpus vocab — tx_subword_tokens), not whitespace
    // words, so the 4096-token budget means what a training run means
    // by it (whitespace counts diverge 30-50% from subword counts on
    // real corpora, skewing every shard/pack/mix budget keyed on them).
    // Same two-phase prefix-sum plan as ds_token_shards_bucketed; the
    // tokenizer adds ZERO exchanges (vocab is a plan literal, counting
    // is a scan-stage projection). Oracle = the GLOBAL single-window
    // shard SQL over the recursive-CTE tokenizer replay.
    "ds_token_shards_subword" -> QueryDef(
      (s, d) => {
        val vocab = graft.sources.Models.subwordVocabSeq(s, d)
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            size(graft.functions.GraftFunctions.subwordTokens(
              TextOps.tokens(col("text")), vocab)).cast("long").as("tokens"))
        tokenShards(toks, ShardBudget, expr("doc_id div 64"))
          .orderBy("doc_id")
      },
      // dt LEFT-JOINs documents so empty/whitespace-only docs appear
      // with tokens=0 (they still occupy a shard slot on the Spark
      // side, where the tokenizer is a total projection).
      Some(s"WITH RECURSIVE ${TextQueries.subwordTokenizeCtes},\n" +
        s"""dt AS (SELECT d.doc_id, d.source,
           |         CAST(COALESCE(t.tokens, 0) AS BIGINT) AS tokens
           |       FROM documents d LEFT JOIN (
           |         SELECT w2.doc_id, CAST(sum(wt.nt) AS BIGINT) AS tokens
           |         FROM wrds w2 JOIN wt ON wt.w = w2.wd
           |         GROUP BY w2.doc_id) t ON t.doc_id = d.doc_id)
           |SELECT doc_id, source, tokens,
           |  CAST(COALESCE(cumb, 0) // $ShardBudget AS BIGINT) AS shard
           |FROM (
           |  SELECT doc_id, source, tokens,
           |    sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cumb
           |  FROM dt)
           |ORDER BY doc_id""".stripMargin),
      doc = s"token-budget sharding on SUBWORD counts: two-phase prefix " +
        s"sum over greedy-tokenized documents, $ShardBudget real tokens " +
        s"per shard"),

    // GPT-style sequence packing (concatenate-and-chunk): every source's
    // token stream, in doc_id order, is sliced into fixed SeqLen-token
    // training sequences; each document maps to the sequences its token
    // range [offset, offset+tokens) overlaps, emitting one segment row
    // per (doc, sequence) with the within-sequence position. Unlike
    // first-fit bin packing (a sequential recurrence that cannot be
    // parallelized exactly), concat-and-chunk IS a prefix sum — the
    // same two-phase (source, bucket) offset machinery as
    // ds_token_shards_bucketed, followed by a scan-stage explode over
    // the spanned sequence ids. No padding waste, deterministic, and
    // at 100 TB the only exchanges are the bucket-local windows and a
    // broadcast of per-bucket base offsets.
    "ds_pack_sequences" -> QueryDef(
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            TextOps.wsTokenCount(col("text")).cast("long").as("tokens"))
        withTokenOffsets(toks, expr("doc_id div 64"))
          .select(col("doc_id"), col("source"), col("tokens"), col("offset"),
            explode(sequence(expr(s"offset div $SeqLen"),
              expr(s"(offset + tokens - 1) div $SeqLen"))).as("seq_id"))
          .select(col("doc_id"), col("source"), col("seq_id"),
            greatest(col("offset") - col("seq_id") * SeqLen, lit(0L))
              .as("seg_off"),
            (least((col("seq_id") + 1) * SeqLen, col("offset") + col("tokens"))
              - greatest(col("seq_id") * SeqLen, col("offset")))
              .as("seg_len"))
          .orderBy("doc_id", "seq_id")
      },
      Some(
        s"""SELECT doc_id, source, CAST(s AS BIGINT) AS seq_id,
           |  CAST(greatest("offset" - s*$SeqLen, 0) AS BIGINT) AS seg_off,
           |  CAST(least((s+1)*$SeqLen, "offset"+tokens)
           |       - greatest(s*$SeqLen, "offset") AS BIGINT) AS seg_len
           |FROM (
           |  SELECT *, unnest(range("offset" // $SeqLen,
           |                         ("offset"+tokens-1) // $SeqLen + 1)) AS s
           |  FROM (
           |    SELECT doc_id, source, tokens,
           |      CAST(COALESCE(sum(tokens) OVER (PARTITION BY source
           |        ORDER BY doc_id
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |        AS BIGINT) AS "offset"
           |    FROM (
           |      SELECT doc_id, source,
           |        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS tokens
           |      FROM documents)))
           |ORDER BY doc_id, seq_id""".stripMargin),
      doc = s"sequence packing (concat-and-chunk): $SeqLen-token training " +
        s"sequences via the two-phase token prefix sum + scan-stage " +
        s"explode over spanned sequence ids"),

    // THE END-TO-END PREP PIPELINE: ingest gate (language + quality +
    // length) → exact dedup (first survivor per content fingerprint) →
    // train/val/test split → token-budget shard → training-sequence
    // assignment, one output row per surviving document. This is the
    // nightly job a training-data platform runs. The gate + fingerprint
    // stage fuses into the corpus scan and shuffles ONCE (the
    // fingerprint window), then the survivor set — three narrow columns
    // — is materialized (`localCheckpoint`) before the offset phase:
    // the two-phase prefix sum branches twice (local sums + base
    // offsets), and without the materialization each branch would
    // re-run the whole gate+tokenize+fingerprint subtree, doubling the
    // dominant scan at 100 TB. Downstream of the materialization the
    // plan holds exactly three hash exchanges (PlanSpec pin): the
    // (source, bucket) offset window, the bucket-sums aggregate, and
    // the bucket-count-sized per-source base window. Every stage's
    // arithmetic is the SAME expression its standalone query uses, and
    // the oracle composes the same shared SQL fragments — the hash
    // match checks the composition, not just the pieces.
    "ds_prep_pipeline" -> QueryDef(
      (s, d) => {
        val fpW = Window.partitionBy("fp").orderBy("doc_id")
        val kept = Tables.documents(s, d)
          .filter(TextOps.ingestGate(col("text")))
          .withColumn("fp", TextOps.mdFingerprint(col("text")))
          .withColumn("_rn", row_number().over(fpW))
          .filter(col("_rn") === 1)
        val toks = Materialize("corpus:ds_prep_pipeline:tokens",
          kept.select(col("doc_id"), col("source"),
            TextOps.wsTokenCount(col("text")).cast("long").as("tokens")))
        withTokenOffsets(toks, expr("doc_id div 64"))
          .withColumn("h",
            md5(encode(col("doc_id").cast("string"), "UTF-8")))
          .select(col("doc_id"), col("source"),
            when(col("h") < "cc", "train")
              .when(col("h") < "e6", "val")
              .otherwise("test").as("split"),
            col("tokens"),
            expr(s"offset div $ShardBudget").as("shard"),
            expr(s"offset div $SeqLen").as("seq_id"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH k AS (
           |  SELECT doc_id, source, text,
           |    row_number() OVER (
           |      PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
           |      ORDER BY doc_id) AS rn
           |  FROM (${TextQueries.gatedDocsSql})),
           |t AS (
           |  SELECT doc_id, source,
           |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS tokens,
           |    md5(CAST(doc_id AS VARCHAR)) AS h
           |  FROM k WHERE rn = 1),
           |o AS (
           |  SELECT doc_id, source, tokens, h,
           |    CAST(COALESCE(sum(tokens) OVER (PARTITION BY source
           |      ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT) AS "offset"
           |  FROM t)
           |SELECT doc_id, source,
           |  CASE WHEN h < 'cc' THEN 'train'
           |       WHEN h < 'e6' THEN 'val' ELSE 'test' END AS split,
           |  tokens,
           |  CAST("offset" // $ShardBudget AS BIGINT) AS shard,
           |  CAST("offset" // $SeqLen AS BIGINT) AS seq_id
           |FROM o ORDER BY doc_id""".stripMargin),
      doc = "end-to-end prep pipeline: gate -> exact dedup -> split -> " +
        "shard -> sequence assignment; one corpus-wide shuffle (the " +
        "fingerprint window), survivors materialized, three small " +
        "exchanges after"),

    // The STEADY-STATE daily pipeline — the capstone composition a
    // 100 TB training-data platform actually runs per batch, consuming
    // THREE persisted artifacts instead of retraining anything:
    //   gate (stateless quality/language predicate)
    //   → canonical survivors via the stored near-dup cluster map
    //     (Models.dedupMap — the similarity join + components ran once)
    //   → LM-quality filter via the stored bigram model
    //     (Models.bigramLm — keep head+middle deciles, CCNet-style)
    //   → two-phase token sharding + split/sequence assignment.
    // The oracle recomputes EVERYTHING from scratch — recursive-CTE
    // clustering, LM fit, gate, sharding — composed from the same
    // shared SQL fragments the standalone queries use, so the hash
    // match simultaneously checks the composition and re-proves
    // reload == retrain for both consumed models. A cluster whose
    // canonical doc fails the gate drops entirely (survivor semantics:
    // the canonical represents its cluster; if it is gate-rejected the
    // cluster's content was rejected).
    "ds_daily_pipeline" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val gated = docs.filter(TextOps.ingestGate(col("text")))
        // feeds LM scoring AND token counts
        val surv = Materialize("corpus:ds_daily_pipeline:survivors",
          gated.join(
            // resolved read: a stale-label row whose cluster merged
            // away must NOT pass the id == label survivor gate
            graft.sources.Models.dedupMapResolved(s, d)
              .filter(col("id") === col("label"))
              .select(col("id").as("doc_id")),
            Seq("doc_id"), "left_semi"))
        // feeds the keep join AND final cols
        val scored = Materialize("corpus:ds_daily_pipeline:lm_keep",
          TextQueries
            .lmScoreWith(TextOps.lmDocs(surv),
              graft.sources.Models.bigramLm(s, d))
            .filter(col("decile") <= 7)
            .select("doc_id", "nll_bits", "bucket"))
        val toks = Materialize("corpus:ds_daily_pipeline:tokens",
          surv.join(scored.select("doc_id"), Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("source"),
              TextOps.wsTokenCount(col("text")).cast("long").as("tokens")))
        withTokenOffsets(toks, expr("doc_id div 64"))
          .join(scored, "doc_id")
          .withColumn("h",
            md5(encode(col("doc_id").cast("string"), "UTF-8")))
          .select(col("doc_id"), col("source"),
            when(col("h") < "cc", "train")
              .when(col("h") < "e6", "val")
              .otherwise("test").as("split"),
            col("tokens"),
            expr(s"offset div $ShardBudget").as("shard"),
            expr(s"offset div $SeqLen").as("seq_id"),
            col("nll_bits"), col("bucket"))
          .orderBy("doc_id")
      },
      Some(
        s"""${DedupQueries.clustersCtes("0.5")},
           |labels AS (
           |  SELECT id, CAST(min(r) AS BIGINT) AS label
           |  FROM reach GROUP BY id),
           |k AS (SELECT doc_id, source, text
           |      FROM (${TextQueries.gatedDocsSql})),
           |surv AS (
           |  SELECT k.* FROM k JOIN labels l ON l.id = k.doc_id
           |  WHERE l.label = k.doc_id),
           |${TextQueries.lmFitCtes},
           |bgs AS (SELECT bg.* FROM bg JOIN surv USING (doc_id)),
           |${TextQueries.lmScoredCtes("bgs")},
           |rk AS (
           |  SELECT doc_id, nll_bits,
           |         CAST(ntile(10) OVER (ORDER BY nll_bits, doc_id)
           |              AS BIGINT) AS decile
           |  FROM agg),
           |kp AS (SELECT doc_id, nll_bits,
           |         CASE WHEN decile <= 3 THEN 'head'
           |              ELSE 'middle' END AS bucket
           |       FROM rk WHERE decile <= 7),
           |t AS (
           |  SELECT s.doc_id, s.source,
           |    CAST(len(string_split_regex(trim(s.text), '\\s+'))
           |         AS BIGINT) AS tokens,
           |    md5(CAST(s.doc_id AS VARCHAR)) AS h,
           |    kp.nll_bits, kp.bucket
           |  FROM surv s JOIN kp USING (doc_id)),
           |o AS (
           |  SELECT doc_id, source, tokens, h, nll_bits, bucket,
           |    CAST(COALESCE(sum(tokens) OVER (PARTITION BY source
           |      ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT) AS "offset"
           |  FROM t)
           |SELECT doc_id, source,
           |  CASE WHEN h < 'cc' THEN 'train'
           |       WHEN h < 'e6' THEN 'val' ELSE 'test' END AS split,
           |  tokens,
           |  CAST("offset" // $ShardBudget AS BIGINT) AS shard,
           |  CAST("offset" // $SeqLen AS BIGINT) AS seq_id,
           |  nll_bits, bucket
           |FROM o ORDER BY doc_id""".stripMargin),
      doc = "steady-state daily pipeline: gate -> survivors from the " +
        "PERSISTED dedup map -> head/middle filter from the PERSISTED " +
        "bigram LM -> token shards; oracle retrains everything from " +
        "scratch"),

    // Corpus mixing / reweighting: stratified deterministic sampling —
    // each source keeps a fixed fraction of its documents (hash
    // threshold per stratum, like ds_split but per-source rates), and
    // kept rows carry the inverse-rate weight a training loop uses to
    // de-bias the mix. Pure per-row expression in the scan stage;
    // membership is stable under corpus growth, so re-running the
    // pipeline on an extended corpus never flips yesterday's sample.
    // Exact per-source length quantiles via the two-phase value
    // histogram ([[graft.operators.Profile.quantiles]]): phase 1 is a
    // map-side-combined groupBy(source, n_chars) whose output size is
    // the value domain, not the corpus; phase 2 prefix-sums that tiny
    // histogram. Exact at any scale where percentile_approx is neither
    // exact nor oracle-replayable, and a full sort is a 100 TB shuffle.
    "ds_length_quantiles" -> QueryDef(
      (s, d) => graft.operators.Profile
        .quantiles(Tables.documents(s, d), "source", "n_chars",
          Seq(25, 50, 90, 99))
        .orderBy("source"),
      Some(
        """WITH h AS (
          |  SELECT source, n_chars AS v, count(*) AS c
          |  FROM documents GROUP BY 1, 2),
          |t AS (
          |  SELECT source, CAST(sum(c) AS BIGINT) AS n,
          |         min(v) AS vmin, max(v) AS vmax
          |  FROM h GROUP BY 1),
          |cu AS (
          |  SELECT source, v,
          |         sum(c) OVER (PARTITION BY source ORDER BY v) AS cum
          |  FROM h)
          |SELECT t.source, n, vmin, vmax,
          |  min(CASE WHEN cum >= (25*n+99)//100 THEN v END) AS p25,
          |  min(CASE WHEN cum >= (50*n+99)//100 THEN v END) AS p50,
          |  min(CASE WHEN cum >= (90*n+99)//100 THEN v END) AS p90,
          |  min(CASE WHEN cum >= (99*n+99)//100 THEN v END) AS p99
          |FROM cu JOIN t USING (source)
          |GROUP BY t.source, n, vmin, vmax
          |ORDER BY t.source""".stripMargin),
      doc = "exact per-source length quantiles: two-phase value " +
        "histogram (map-side-combined counts + histogram-sized prefix " +
        "sums), type-1 picks at exact integer thresholds"),

    "ds_mix_sample" -> QueryDef(
      (s, d) => {
        val thr = MixPlan.foldLeft(lit("0000")) { case (acc, (src, t, _)) =>
          when(col("source") === src, lit(t)).otherwise(acc)
        }
        val weight = MixPlan.foldLeft(lit(0.0)) { case (acc, (src, _, w)) =>
          when(col("source") === src, lit(w)).otherwise(acc)
        }
        Tables.documents(s, d)
          .withColumn("h",
            substring(md5(encode(
              concat(col("doc_id").cast("string"), lit(":"), col("source")),
              "UTF-8")), 1, 4))
          .filter(col("h") < thr)
          .select(col("doc_id"), col("source"), weight.as("weight"))
          .orderBy("doc_id")
      },
      Some {
        val thrCase = MixPlan
          .map { case (src, t, _) => s"WHEN '$src' THEN '$t'" }
          .mkString("CASE source ", " ", " ELSE '0000' END")
        val wCase = MixPlan
          .map { case (src, _, w) => s"WHEN '$src' THEN CAST($w AS DOUBLE)" }
          .mkString("CASE source ", " ", " ELSE CAST(0.0 AS DOUBLE) END")
        s"""SELECT doc_id, source, $wCase AS weight
           |FROM (SELECT doc_id, source,
           |        substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 4) AS h
           |      FROM documents)
           |WHERE h < $thrCase
           |ORDER BY doc_id""".stripMargin
      },
      doc = "corpus mixing: stratified deterministic sampling with " +
        "per-source rates + inverse-rate loss weights"),

    // Temperature-based source mixing (XLM-R/mT5-style): per-source
    // sample rates DERIVED from corpus statistics — p_s ∝ (n_s)^α with
    // α = 0.5, so low-resource sources are upsampled relative to their
    // share — targeting a β = 0.5 token budget. α = 0.5 is deliberate:
    // sqrt is IEEE-correctly-rounded in both engines (pow(x, 0.7) is
    // not), so the rate doubles are bit-identical and the hash-
    // threshold keep decision replays exactly. The stats aggregate is
    // source-count-sized, rates broadcast back into the corpus scan,
    // and the keep test is a pure projection — zero corpus shuffle;
    // the decision hash is 2^40-scaled so floor(r·2^40) stays inside
    // double-exact integer range.
    "ds_temperature_mix" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            size(graft.operators.TextOps.tokens(col("text")))
              .cast("long").as("n_tokens"))
        val ns = docs.groupBy("source")
          .agg(sum("n_tokens").as("n_s"))
          .withColumn("sq", sqrt(col("n_s").cast("double")))
        val tot = ns.agg(sum("n_s").as("n"), sum("sq").as("z"))
        val rates = ns.crossJoin(broadcast(tot))
          .select(col("source"),
            least(lit(1.0),
              lit(0.5) * col("n").cast("double") * col("sq") / col("z")
                / col("n_s").cast("double")).as("r"))
        val scale = 1099511627776L // 2^40
        docs.join(broadcast(rates), "source")
          .select(col("doc_id"), col("source"), col("n_tokens"),
            when(
              Dedup.tokenHash60(
                concat(lit("mix|"), col("doc_id").cast("string"))) % scale
                < floor(col("r") * scale).cast("long"), 1L)
              .otherwise(0L).as("kept"),
            round(lit(1.0) / col("r"), 6).as("weight"))
          .orderBy("doc_id")
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, source,
          |         CAST(len(string_split_regex(trim(lower(text)), '\s+'))
          |              AS BIGINT) AS n_tokens
          |  FROM documents),
          |ns AS (
          |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS n_s,
          |         sqrt(CAST(CAST(sum(n_tokens) AS BIGINT) AS DOUBLE)) AS sq
          |  FROM tok GROUP BY 1),
          |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n, sum(sq) AS z
          |        FROM ns),
          |rates AS (
          |  SELECT source,
          |         least(1.0, 0.5 * CAST(tot.n AS DOUBLE) * sq / tot.z
          |                    / CAST(n_s AS DOUBLE)) AS r
          |  FROM ns, tot)
          |SELECT t.doc_id, t.source, t.n_tokens,
          |  CAST(CASE WHEN
          |    CAST(concat('0x', substr(md5(
          |      'mix|' || CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |      % 1099511627776
          |    < CAST(floor(r * 1099511627776) AS BIGINT)
          |  THEN 1 ELSE 0 END AS BIGINT) AS kept,
          |  round(1.0 / r, 6) AS weight
          |FROM tok t JOIN rates USING (source)
          |ORDER BY t.doc_id""".stripMargin),
      doc = "temperature mixing (alpha=0.5): data-derived per-source " +
        "rates p_s ~ sqrt(n_s) at a half-token budget, broadcast back " +
        "as a pure keep/weight projection"),

    // Deterministic epoch shuffle: the global training order for epoch e
    // is the sort by md5(e:doc_id) — reshuffled every epoch, reproducible
    // from (corpus, epoch) alone, no materialized permutation table.
    // Assigning the global position is the same two-phase prefix-sum
    // shape as ds_token_shards_bucketed: rank within a 256-way hash
    // bucket (the key's first hex byte, so bucket order IS key order)
    // plus a broadcast exclusive bucket-count rebase — no global window,
    // every window partition ~corpus/256. The oracle is the GLOBAL
    // single-window row_number, so the hash match checks the two-phase
    // decomposition, not just the hashing.
    "ds_epoch_order" -> QueryDef(
      (s, d) => epochOrder(Tables.documents(s, d), 1).orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  CAST(row_number() OVER (
          |    ORDER BY md5('1:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
          |    AS BIGINT) AS pos
          |FROM documents ORDER BY doc_id""".stripMargin),
      doc = "deterministic epoch shuffle: global training position = " +
        "rank under md5(epoch:doc_id), assigned via bucketed rank + " +
        "broadcast offset rebase (no global window)"),

    // Curriculum ordering: sequence-length warmup (short documents
    // first) with a deterministic shuffle inside each length tier —
    // train on easy/short docs early without feeding them in corpus
    // order. The global sort key is (tier, md5(1:doc_id), doc_id); the
    // position is assigned by the same two-phase shape as
    // ds_epoch_order, with the bucket extended to (tier, first hex
    // byte) so bucket order stays a prefix of the full key order. The
    // oracle is the global single-window row_number over the composite
    // key — again checking the decomposition itself.
    "ds_curriculum_order" -> QueryDef(
      (s, d) => {
        val keyed = Tables.documents(s, d)
          .select(col("doc_id"),
            least(expr("n_chars div 512"), lit(7L)).as("tier"),
            md5(concat_ws(":", lit(1), col("doc_id"))).as("k"))
          .withColumn("_bkt", substring(col("k"), 1, 2))
        val wLocal = Window.partitionBy("tier", "_bkt")
          .orderBy("k", "doc_id")
        // (tier, bucket)-count window (≤ 8·256 rows): declared-bounded
        val wBase = graft.operators.Rank.boundedGlobal(col("tier"), col("_bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val bases = keyed.groupBy("tier", "_bkt")
          .agg(count(lit(1)).as("_c"))
          .withColumn("_base", coalesce(sum(col("_c")).over(wBase), lit(0L)))
          .select("tier", "_bkt", "_base")
        keyed
          .withColumn("_rk", row_number().over(wLocal).cast("long") - 1)
          .join(broadcast(bases), Seq("tier", "_bkt"))
          .select(col("doc_id"), col("tier"),
            (col("_base") + col("_rk")).as("pos"))
          .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id, tier,
          |  CAST(row_number() OVER (
          |    ORDER BY tier, md5('1:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
          |    AS BIGINT) AS pos
          |FROM (SELECT doc_id,
          |        least(CASE WHEN n_chars < 0 THEN -(abs(n_chars) // 512)
          |              ELSE abs(n_chars) // 512 END, 7) AS tier
          |      FROM documents)
          |ORDER BY doc_id""".stripMargin),
      doc = "curriculum ordering: length-tier warmup (short docs first) " +
        "with a deterministic in-tier shuffle, two-phase rank " +
        "assignment against a global-window oracle")
  )
}
