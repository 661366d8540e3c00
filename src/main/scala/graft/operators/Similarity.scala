package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.GraftFunctions

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exactness baseline, and a
  * random-hyperplane (SRP) LSH bucketed variant as the 100 TB path.
  *
  * Exactness trick for cross-engine verification: embeddings are
  * quantized to int64 (`round(x * 10^4)`), so dot products and squared
  * norms are *exact integers* (order-independent sums — safe under any
  * aggregation order), and the final cosine is one IEEE-deterministic
  * `dot / (sqrt(na)*sqrt(nb))` on exact inputs. Spark and DuckDB
  * produce bit-identical doubles. The SRP hyperplanes are integer-valued
  * for the same reason, so even the LSH bucketing is exactly
  * reproducible by the oracle.
  *
  * Hot loop: the int64 dot product is a native codegen'd Catalyst
  * expression ([[graft.functions.LongArrayDot]]).
  */
object Similarity {

  val Scale = 10000

  /** Quantize a float vector to exact int64 (`round(double(x)*10^4)`). */
  def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * Scale).cast("long"))

  /** Exact integer dot product of two quantized vectors (codegen'd). */
  def idot(a: Column, b: Column): Column = GraftFunctions.ldot(a, b)

  /** IEEE-deterministic cosine from exact-int dot and squared norms. */
  def cosine(dot: Column, na2: Column, nb2: Column): Column =
    dot.cast("double") / (sqrt(na2.cast("double")) * sqrt(nb2.cast("double")))

  /** Embeddings with quantized vector + squared norm precomputed. */
  def prepared(embs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val q = quantize(col(vecCol))
    embs.select(col(idCol).as("id"), q.as("qv"))
      .withColumn("n2", idot(col("qv"), col("qv")))
  }

  /** Brute-force cosine top-k: each query row scans the full corpus.
    * The query side is broadcast (tiny), so the corpus is never
    * shuffled — at scale this is one map-side pass per partition, the
    * right baseline when k·|queries| is small. */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val a = corpus.select(col("id").as("nid"), col("qv").as("nqv"),
      col("n2").as("nn2"))
    val b = queries.select(col("id").as("qid"), col("qv").as("qqv"),
      col("n2").as("qn2"))
    val scored = a.crossJoin(broadcast(b))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        cosine(idot(col("qqv"), col("nqv")), col("qn2"), col("nn2")).as("cos"))
    topPerQuery(scored, k, "rank", col("cos").desc)
  }

  /** The top `n` rows per query `qid` by `order`, ties to the smaller
    * `nid`, numbered from 1 in `rankCol` — the one ranking step of
    * every ANN path (shortlists, ground truth, final top-k). */
  def topPerQuery(scored: DataFrame, n: Int, rankCol: String,
      order: Column*): DataFrame =
    scored.withColumn(rankCol, row_number().over(
        Window.partitionBy("qid").orderBy(order :+ col("nid"): _*)))
      .filter(col(rankCol) <= n)

  /** `(a, b)` id pairs joined with both sides' quantized vectors and
    * squared norms from `prep`, named `<ap>qv`/`<ap>n2` and
    * `<bp>qv`/`<bp>n2` — the shared prelude of every exact rescore. */
  private def withVectors(pairs: DataFrame, prep: DataFrame, a: String,
      ap: String, b: String, bp: String): DataFrame =
    pairs
      .join(prep.select(col("id").as(a), col("qv").as(s"${ap}qv"),
        col("n2").as(s"${ap}n2")), a)
      .join(prep.select(col("id").as(b), col("qv").as(s"${bp}qv"),
        col("n2").as(s"${bp}n2")), b)

  /** Exact cosine of every `(a, b)` pair: `(a, b, cos)`. */
  private def cosineRescore(pairs: DataFrame, prep: DataFrame, a: String,
      ap: String, b: String, bp: String): DataFrame =
    withVectors(pairs, prep, a, ap, b, bp)
      .select(col(a), col(b), cosine(idot(col(s"${ap}qv"), col(s"${bp}qv")),
        col(s"${ap}n2"), col(s"${bp}n2")).as("cos"))

  /** Exact integer squared L2 of every `(qid, nid)` pair:
    * `(qid, nid, d2)` — the rerank of every shortlist. */
  private def l2Rescore(pairs: DataFrame, prep: DataFrame): DataFrame =
    withVectors(pairs, prep, "qid", "q", "nid", "n")
      .select(col("qid"), col("nid"),
        (col("qn2") + col("nn2") -
          lit(2L) * idot(col("qqv"), col("nqv"))).as("d2"))

  /** All pairs with cosine >= threshold — exact, for the near-dup gate.
    *
    * Plan shape: a *tiled* self-join, not a broadcast nested loop. Each
    * vector gets a block id (`hash(id) mod blocks`); every unordered
    * block pair (lo, hi) is one tile, and each row is replicated to the
    * `blocks` tiles containing its block. The tile key is an equi-join
    * key, so the pair enumeration is a shuffle join with bounded task
    * state (two blocks per task) and O(n·blocks) shuffle volume —
    * at 1000 executors you size `blocks` ≈ sqrt(2·tasks) and no single
    * node ever holds (or receives a broadcast of) the whole relation.
    *
    * Why not LSH-block this query: measured on the test corpora, the
    * pairs passing t = 0.4 are the extreme tail of the *random* cosine
    * distribution (min qualifying cos 0.4004/0.4005/0.4000 at
    * sf0.001/0.01/0.1 — no planted structure above 0.6). Recall-1
    * banding at p_bit = 1 - θ/π ≈ 0.63 needs so many bands that the
    * candidate set approaches all pairs; an exact loose-threshold gate
    * is inherently Θ(n²) comparisons. The scalable *approximate* gate —
    * realistic for true near-dups — is [[nearDupPairsBlocked]]. */
  def nearDupPairs(prep: DataFrame, threshold: Double,
      blocks: Int = 8): DataFrame =
    // one source of tiling truth: the (property-tested) skew-safe
    // self-join with a constant key and an all-hot threshold IS the
    // tiled all-pairs enumeration described above
    Skew.selfJoinRows(prep.withColumn("_k", lit(1)), Seq("_k"), "id",
        Seq("qv", "n2"), hotThreshold = 0L, tiles = blocks)
      .select(col("i"), col("j"),
        cosine(idot(col("i_qv"), col("j_qv")),
          col("i_n2"), col("j_n2")).as("cos"))
      .filter(col("cos") >= threshold)

  // ---- IVF (inverted-file index, the second scale path) ------------------

  /** The centroid table as ONE broadcast row holding a cid-sorted
    * struct array — the scale form of the former driver-collected plan
    * literal. Nothing is collected at plan-build time (composing
    * [[ivfAssign]]/[[lloydStep]]/[[semDedup]] runs no Spark jobs), the
    * array ships to executors once via a broadcast exchange instead of
    * inside every serialized task, and the query plan carries no
    * nList-sized literal — at the SemDedup-prescribed nList ≈ √n
    * (10⁵-10⁶ cells at 100 TB) a literal is megabytes of plan per task
    * and a codegen bomb, while a broadcast row is shared executor
    * memory. PlanSpec pins that plan size is nList-independent; the
    * array is cid-sorted only so its order never depends on
    * collect_list's aggregation order. */
  private def centArr(cents: DataFrame): DataFrame =
    broadcast(cents.agg(array_sort(
      collect_list(struct(col("cid"), col("cv"), col("cn2")))).as("_cents")))

  /** Per-row exact-integer L2 distance structs `(d2, cid)` over the
    * broadcast centroid array (`d2 = |a|² + |c|² − 2·a·c`). Field
    * aliases inside a lambda are stripped by the analyzer — the cast
    * re-names them (comparison is positional: d2 first, cid tie). */
  private def distArr: Column =
    transform(col("_cents"), c => struct(
        col("n2") + c.getField("cn2") -
          lit(2L) * idot(col("qv"), c.getField("cv")),
        c.getField("cid")))
      .cast("array<struct<d2:bigint,cid:bigint>>")

  /** Corpus rows + nearest-centroid cell id (`cid`): one single-row
    * broadcast nested-loop join (the centroid array) + an O(nList·dim)
    * in-row argmin. The argmin is the native allocation-free
    * [[graft.functions.NearestCell]] loop rather than `array_min` over
    * `transform`-built `(d2, cid)` structs — the HOF form evaluates an
    * interpreted lambda and allocates a struct per (row × centroid),
    * which dominates the assignment pass at nList ≥ 10³ (identical
    * semantics incl. smaller-cid tie-break; SimilaritySpec pins
    * equivalence against the HOF form). No per-row sort of all cells,
    * no corpus shuffle, no assignment join-back. */
  def withNearestCell(prep: DataFrame, cents: DataFrame): DataFrame =
    prep.crossJoin(centArr(cents))
      .withColumn("cid",
        GraftFunctions.nearestCell(col("qv"), col("_cents")))
      .drop("_cents")

  /** IVF coarse quantizer: centroids are a deterministic corpus sample
    * (`id < nList`, optionally Lloyd-refined — [[lloydStep]]), every
    * vector is assigned to its nearest centroid by exact integer L2.
    * Returns `(id, cid)`. */
  def ivfAssign(prep: DataFrame, cents: DataFrame): DataFrame =
    withNearestCell(prep, cents).select("id", "cid")

  /** One Lloyd iteration over exact integers: assign every vector to its
    * nearest centroid, recompute each centroid as the per-dimension
    * *truncated* integer mean of its members (`sign(s)·(|s| div c)` —
    * written sign-explicitly because Spark's `div` truncates while
    * DuckDB's `//` floors, and the oracle replays this bit-for-bit).
    * Cells that attract no members keep their previous centroid. The
    * whole step is two shuffles (assignment ranking + per-(cid, dim)
    * sums); centroids stay integer so the refined index remains exactly
    * reproducible by any engine. */
  def lloydStep(prep: DataFrame, cents: DataFrame): DataFrame = {
    // the cell id is a per-row argmin over the broadcast centroid
    // array — no assignment join-back
    val sums = withNearestCell(prep, cents)
      .select(col("cid"), posexplode(col("qv")).as(Seq("k", "v")))
      .groupBy("cid", "k")
      .agg(sum("v").as("s"), count(lit(1)).as("c"))
    val q = expr("abs(s) div c")
    val refined = sums
      .withColumn("cvk", when(col("s") < 0, -q).otherwise(q))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("k"), col("cvk")))),
        x => x.getField("cvk")).as("ncv"))
    cents.join(refined, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("ncv"), col("cv")).as("cv"))
      .withColumn("cn2", idot(col("cv"), col("cv")))
  }

  /** Deterministic-seed IVF centroid table: corpus sample (`id < nList`)
    * refined with `iters` Lloyd steps. Shared by [[ivfTopK]] and
    * [[semDedup]]; each step materializes the (tiny) centroid table so
    * the per-iteration window/aggregate plans don't nest. */
  def refinedCentroids(prep: DataFrame, nList: Int, iters: Int): DataFrame = {
    var cents = prep.filter(col("id") < nList)
      .select(col("id").as("cid"), col("qv").as("cv"), col("n2").as("cn2"))
    for (_ <- 1 to iters)
      cents = Materialize("similarity:ivf:lloyd_step", lloydStep(prep, cents))
    cents
  }

  /** IVF ANN: probe the `nProbe` nearest cells per query, score only
    * vectors assigned to those cells. The candidate set per query is
    * ~`nProbe/nList` of the corpus — the classic recall/cost dial; at
    * scale the assignment table is partitioned by `cid` so each probe is
    * a partition-pruned scan, and the centroid table broadcasts. */
  def ivfTopK(embs: DataFrame, idCol: String, vecCol: String, k: Int,
      queryLimit: Long, nList: Int = 16, nProbe: Int = 4,
      refineIters: Int = 0): DataFrame = {
    // cached: cents/assign/probe/rescoring all branch from it — without
    // the cache each branch re-scans and re-quantizes the corpus
    val prep = prepared(embs, idCol, vecCol).cache()
    Materialize("similarity:ivf_topk:rank",
      ivfTopKPlan(prep, refinedCentroids(prep, nList, refineIters),
        k, queryLimit, nProbe), prep)
  }

  /** The un-materialized IVF probe/rescore plan against an EXISTING
    * centroid table — the steady-state form where the quantizer is a
    * persisted trained artifact ([[graft.sources.Models.ivfCentroids]])
    * rather than re-derived per query. */
  def ivfTopKPlan(prep: DataFrame, cents: DataFrame, k: Int,
      queryLimit: Long, nProbe: Int): DataFrame = {
    // Assignment is an in-row argmin; probe lists sort the distance
    // array ONLY for the (tiny) query-row slice — the former shared
    // ranked table posexploded corpus × nList structs through the plan.
    val assign = withNearestCell(prep, cents)
      .select(col("id").as("nid"), col("cid"))
    val probe = prep.filter(col("id") < queryLimit)
      .crossJoin(centArr(cents))
      .select(col("id").as("qid"),
        explode(transform(slice(array_sort(distArr), 1, nProbe),
          c => c.getField("cid"))).as("cid"))
    val cand = probe.join(assign, "cid")
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid")
    topPerQuery(cosineRescore(cand, prep, "qid", "q", "nid", "n"), k,
      "rank", col("cos").desc)
  }

  /** SemDedup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the IVF coarse
    * quantizer, then inside each cell drop every vector that has a
    * lower-id neighbor at cosine >= `threshold`. Returns one row per
    * vector: `(vec_id, cid, kept)`.
    *
    * Determinism: the keep rule is "drop j iff ∃ i < j in the same cell
    * with cos(i,j) >= t" — no greedy sequential scan, so the result is
    * order-independent and the DuckDB oracle replays it exactly (the
    * centroids are exact integers via [[lloydStep]], the cosines exact
    * quantized-int arithmetic).
    *
    * Scale shape: pairwise comparison happens only WITHIN a cell — the
    * classic SemDedup recipe sizes `nList` with the corpus (k ~ sqrt n
    * or larger) so cells stay bounded, and the within-cell enumeration
    * here goes through [[Skew.selfJoinRows]], so even a degenerate cell
    * (all vectors identical → one giant cluster) is tiled into bounded
    * tasks instead of one quadratic straggler. Centroids broadcast;
    * the only wide exchanges are the assignment ranking and the
    * per-cell equi-join. */
  def semDedup(embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nList: Int = 16, refineIters: Int = 2,
      hotThreshold: Long = 100000L, tiles: Int = 8): DataFrame = {
    // cached: feeds centroid refinement, assignment, and the pair join
    val prep = prepared(embs, idCol, vecCol).cache()
    try semDedupWith(prep, refinedCentroids(prep, nList, refineIters),
      threshold, hotThreshold, tiles)
    finally prep.unpersist()
  }

  /** The SemDedup cell/drop core against an EXISTING centroid table —
    * the steady-state form with a persisted quantizer
    * ([[graft.sources.Models.ivfCentroids]]). Materialized; the cell
    * assignment it caches is released before returning. */
  def semDedupWith(prep: DataFrame, cents: DataFrame, threshold: Double,
      hotThreshold: Long = 100000L, tiles: Int = 8): DataFrame = {
    // the cell id is a per-row argmin over the broadcast centroid
    // array (no assignment join-back); cached because both the pair
    // enumeration and the output join consume it
    val withCell = withNearestCell(prep, cents).cache()
    val dropped = Skew
      .selfJoinRows(withCell, Seq("cid"), "id", Seq("qv", "n2"),
        hotThreshold, tiles)
      .filter(cosine(idot(col("i_qv"), col("j_qv")),
        col("i_n2"), col("j_n2")) >= threshold)
      .select(col("j").as("id")).distinct()
    Materialize("similarity:sem_dedup:drop", withCell
      .join(dropped.withColumn("_dropped", lit(true)), Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cid"),
        col("_dropped").isNull.as("kept")), withCell)
  }

  // ---- Product quantization (PQ/ADC — the memory-compression path) ------

  /** Product-quantization ANN with asymmetric distance computation
    * (Jégou et al. 2011, "Product quantization for nearest neighbor
    * search"): split each vector into `m` subvectors, encode every
    * subvector as the index of its nearest codebook entry (codebook =
    * deterministic corpus sample `id < ksub`, exact integer L2, ties to
    * the smaller index — the oracle replays encoding bit-for-bit), then
    * answer queries by summing per-subspace lookup tables (ADC) instead
    * of touching the raw vectors. Returns `(qid, nid, ad2, rank)` —
    * `ad2` stays an exact int64, so the result hash-matches across
    * engines with no float care at all.
    *
    * Why this is the 100 TB path: the encoded corpus is `m` small codes
    * per vector (m·log2(ksub) bits — here 8×4 = 4 bytes vs 256 bytes of
    * float32), so the scan side of a query reads ~64× less than a
    * brute-force pass and never re-reads the raw embedding column. The
    * per-query LUT (m·ksub exact-int distances) broadcasts with the
    * query set; the ADC scan is a zero-shuffle map over the codes table
    * (`zip_with` + in-row sum), and the only exchange is the per-query
    * top-k window over the (tiny) scored slice. Encoding itself is one
    * broadcast of the ksub-row codebook — no corpus shuffle anywhere
    * until the final window. */
  def pqTopK(embs: DataFrame, idCol: String, vecCol: String, k: Int,
      queryLimit: Long, m: Int = 8, ksub: Int = 16,
      dim: Int = 64): DataFrame = {
    // cached: feeds codebook, corpus encoding, and the query LUTs
    val prep = prepared(embs, idCol, vecCol)
      .filter(size(col("qv")) === dim).cache()
    Materialize("similarity:pq_topk:rank",
      pqTopKPlan(prep, k, queryLimit, m, ksub, dim), prep)
  }

  /** The un-materialized [[pqTopK]] plan over a prepared corpus —
    * separated so PlanSpec can pin its shape (the public entry
    * checkpoints eagerly, which truncates the inspectable plan). */
  private[graft] def pqTopKPlan(prep: DataFrame, k: Int, queryLimit: Long,
      m: Int, ksub: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    // (sub-dimension arithmetic lives in the native pq_luts kernel)
    // codebook as ONE broadcast row (cid-sorted struct array), same
    // scale form as the IVF centroid table
    val cb = broadcast(prep.filter(col("id") < ksub)
      .agg(array_sort(collect_list(struct(col("id").as("cid"),
        col("qv").as("cv")))).as("_cb")))
    // per-row codes: for each subspace, the 1-based POSITION of the
    // nearest codebook entry (positions follow cid order, so ties to
    // the smaller position == ties to the smaller cid) — the native
    // loop ([[graft.functions.PqCodes]]; prep is dense id 0..n-1 here,
    // so "all entries" == the nominal ksub the old spelling iterated)
    val codes = prep.crossJoin(cb)
      .select(col("id").as("nid"),
        graft.functions.GraftFunctions
          .pqCodes(col("qv"), col("_cb"), m).as("codes"))
    // per-query ADC lookup tables: luts[mm][p] = d2(query sub mm,
    // codebook entry p) — positions aligned with the codes above.
    // Native pq_luts/adc_sum loops ([[graft.functions.PqLuts]] /
    // [[graft.functions.AdcSum]]) — the HOF spelling evaluated
    // interpreted per (row × subspace × entry × sub-dim) and per
    // scored row respectively; SimilaritySpec pins equivalence.
    val luts = prep.filter(col("id") < queryLimit).crossJoin(cb)
      .select(col("id").as("qid"),
        GraftFunctions.pqLuts(col("qv"), col("_cb"), m).as("luts"))
    val scored = codes.crossJoin(broadcast(luts))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        GraftFunctions.adcSum(col("codes"), col("luts")).as("ad2"))
    topPerQuery(scored, k, "rank", col("ad2"))
  }

  // ---- IVF-PQ (coarse cells + residual product quantization) ------------

  /** IVF-PQ ANN (Jégou et al. 2011 §IV — the FAISS `IVFPQ` shape, the
    * index production vector search actually deploys): the coarse
    * quantizer routes every vector to a cell, product quantization
    * encodes the RESIDUAL `x − centroid` (residuals cluster near the
    * origin, so the same codebook budget buys far finer resolution
    * than PQ on raw vectors), and a query probes its `nProbe` nearest
    * cells, scoring only those cells' codes via ADC lookup tables
    * built from the QUERY's residual in each probed cell. Exact int64
    * end to end — centroids, residuals, codes, and asymmetric
    * distances all hash-match the oracle's replay.
    *
    * Scale shape: the stored index is `(cid, m 4-bit codes)` per
    * vector; the centroid table and residual codebook each broadcast
    * as one row, the per-query LUTs broadcast with the (tiny) probe
    * set, and the scan side touches only the probed cells' codes —
    * partition the codes table by `cid` and each query reads
    * `~nProbe/nList` of the index. The only exchange is the per-query
    * top-k window. */
  /** Per-vector residuals `(id, cid, rv)` — every corpus vector minus
    * its cell centroid, the signal PQ encodes. */
  def ivfPqResiduals(prep: DataFrame, cents: DataFrame): DataFrame =
    withNearestCell(prep, cents)
      .join(broadcast(cents.select(col("cid"), col("cv"))), "cid")
      .withColumn("rv", expr("zip_with(qv, cv, (x, c) -> x - c)"))
      // rv only: the raw vector never rides the stored index —
      // the probe/LUT side reads qv from prep
      .select(col("id"), col("cid"), col("rv"))

  /** Codebook `(cid, cv)` rows → the ONE cbid-sorted broadcast row
    * every encode/LUT consumer joins in. */
  def codebookRow(cbRows: DataFrame): DataFrame =
    broadcast(cbRows.agg(array_sort(collect_list(
      struct(col("cid"), col("cv")))).as("_cb")))

  /** PQ codes over residuals: `(nid, cid, codes)` — m positions into
    * the cbid-sorted codebook (ties to the smaller position == the
    * smaller cbid). This IS the stored index: m small codes + a cell
    * id per vector. */
  def ivfPqCodes(res: DataFrame, cbRows: DataFrame, m: Int, ksub: Int,
      dim: Int): DataFrame =
    // the native argmin loop ([[graft.functions.PqCodes]]) — iterates
    // the codebook's ACTUAL size, not the nominal ksub (a codebook
    // trained from a corpus sample can hold fewer entries), and
    // replaces the per-(row × subspace × entry) interpreted HOF chain
    // that dominated every encode pass (~5 ms/row at m=8, ksub=256)
    res.crossJoin(codebookRow(cbRows))
      .select(col("id").as("nid"), col("cid"),
        graft.functions.GraftFunctions
          .pqCodes(col("rv"), col("_cb"), m).as("codes"))

  /** The un-materialized probe/LUT/ADC/top-k plan against an EXISTING
    * index (centroids + codebook rows + codes) — the steady-state form
    * where all three are persisted trained artifacts
    * ([[graft.sources.Models.ivfPqIndex]]). Callers materialize it
    * ([[graft.Materialize]]) and release their own `prep` cache.
    *
    * `rerank = 0` returns the pure-ADC ranking `(qid, nid, ad2, rank)`.
    * `rerank = R > 0` adds the FAISS-`refine` stage production IVF-PQ
    * serves with: the ADC pass only SHORTLISTS the top `R` candidates
    * per query, which are then re-scored with the EXACT integer L2
    * distance and re-ranked — output `(qid, nid, d2, rank)`. This is
    * what lifts recall@5 from the ~0.26-0.38 pure-ADC band to ≥0.9
    * (see `sim_ivfpq_sweep`): ADC error no longer orders the final
    * top-k, it only has to keep true neighbors inside the shortlist.
    * Scale shape: the rerank join reads `R` raw vectors per query via
    * an id-keyed equi-join against the corpus (point lookups on the
    * id-bucketed table at scale) — the scan side still touches only
    * the probed cells' codes. */
  private[graft] def ivfPqScorePlan(prep: DataFrame, cents: DataFrame,
      cbRows: DataFrame, codes: DataFrame, k: Int, queryLimit: Long,
      nProbe: Int, m: Int, dim: Int, rerank: Int = 0): DataFrame =
    ivfPqRankFromScored(
      ivfPqAdcScored(prep, cents, cbRows, codes, queryLimit, nProbe, m),
      prep, k, rerank)

  /** The probe/LUT/ADC half of [[ivfPqScorePlan]] alone — every
    * `(qid, nid)` candidate in the query's `nProbe` probed cells with
    * its asymmetric distance `ad2`, BEFORE any ranking. Split out so a
    * multi-configuration consumer (the operating-point sweep,
    * [[graft.queries.SimilarityQueries.ivfPqSweep]]) can materialize
    * ONE scored table per index and derive every (nProbe, rerank) arm
    * from it.
    *
    * `probeRank = true` adds `probe_rank`, the 1-based position of the
    * candidate's cell in the query's probe order. That order is the
    * total order `(d2, cid)`, so the cells probed at a smaller nProbe
    * are a prefix of it, and `ad2` does not depend on nProbe: the rows
    * with `probe_rank <= p` ARE the scored table at `nProbe = p`
    * (SimilaritySpec pins the equivalence). */
  private[graft] def ivfPqAdcScored(prep: DataFrame, cents: DataFrame,
      cbRows: DataFrame, codes: DataFrame, queryLimit: Long,
      nProbe: Int, m: Int, probeRank: Boolean = false): DataFrame = {
    // (sub-dimension arithmetic lives in the native pq_luts kernel)
    val cells = transform(slice(array_sort(distArr), 1, nProbe),
      c => c.getField("cid"))
    val queries = prep.filter(col("id") < queryLimit)
      .crossJoin(centArr(cents))
    val probe =
      if (probeRank) queries
        .select(col("id").as("qid"), col("qv"),
          posexplode(cells).as(Seq("_pos", "cid")))
        .withColumn("probe_rank", col("_pos") + 1)
      else queries
        .select(col("id").as("qid"), col("qv"), explode(cells).as("cid"))
    val rank = if (probeRank) Seq(col("probe_rank")) else Nil
    // native pq_luts/adc_sum loops — see [[pqTopKPlan]]'s note; the
    // interpreted HOF chain dominated every probe's ADC stage
    val luts = probe
      .join(broadcast(cents.select(col("cid"), col("cv"))), "cid")
      .withColumn("qrv", expr("zip_with(qv, cv, (x, c) -> x - c)"))
      .crossJoin(codebookRow(cbRows))
      .select(Seq(col("qid"), col("cid")) ++ rank :+
        GraftFunctions.pqLuts(col("qrv"), col("_cb"), m).as("luts"): _*)
    codes.join(broadcast(luts), Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(Seq(col("qid"), col("nid"),
        GraftFunctions.adcSum(col("codes"), col("luts")).as("ad2")) ++
        rank: _*)
  }

  /** The ranking half of [[ivfPqScorePlan]] over an existing
    * `(qid, nid, ad2)` scored table — pure-ADC top-k at `rerank = 0`,
    * the FAISS-`refine` shortlist + exact-L2 re-rank otherwise. */
  private[graft] def ivfPqRankFromScored(scored: DataFrame,
      prep: DataFrame, k: Int, rerank: Int): DataFrame =
    if (rerank <= 0) topPerQuery(scored, k, "rank", col("ad2"))
    else {
      val short = topPerQuery(scored, rerank, "_srk", col("ad2"))
        .select("qid", "nid")
      topPerQuery(l2Rescore(short, prep), k, "rank", col("d2"))
    }

  /** Exact-L2 top-`k` ground truth for the first `queryLimit` vectors —
    * the audit side of every recall measurement: brute-force integer
    * squared distances, ties to the smaller id. Returns `(qid, nid)`. */
  def exactL2TopK(prep: DataFrame, k: Int, queryLimit: Long): DataFrame = {
    val queries = prep.filter(col("id") < queryLimit)
      .select(col("id").as("qid"), col("qv").as("qqv"), col("n2").as("qn2"))
    val gt = prep.crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("nid"),
        (col("qn2") + col("n2") -
          lit(2L) * idot(col("qqv"), col("qv"))).as("d2"))
    topPerQuery(gt, k, "rk", col("d2")).select("qid", "nid")
  }

  def ivfPqTopK(embs: DataFrame, idCol: String, vecCol: String, k: Int,
      queryLimit: Long, nList: Int = 16, nProbe: Int = 4, iters: Int = 2,
      m: Int = 8, ksub: Int = 16, dim: Int = 64,
      rerank: Int = 0): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val prep = prepared(embs, idCol, vecCol)
      .filter(size(col("qv")) === dim).cache()
    val cents = Materialize("similarity:ivfpq_topk:centroids",
      refinedCentroids(prep, nList, iters))
    // feeds codebook AND corpus encoding
    val res = Materialize("similarity:ivfpq_topk:residuals",
      ivfPqResiduals(prep, cents))
    val cbRows = res.filter(col("id") < ksub)
      .select(col("id").as("cid"), col("rv").as("cv"))
    val codes = ivfPqCodes(res, cbRows, m, ksub, dim)
    Materialize("similarity:ivfpq_topk:score", ivfPqScorePlan(prep, cents,
      cbRows, codes, k, queryLimit, nProbe, m, dim, rerank), prep)
  }

  /** Post-append drift audit over an IVF-PQ index: per-cell member
    * counts split into index-resident vs freshly-appended rows — the
    * `sim_ivf_stats`-style balance check a daily append loop runs
    * before trusting the grown index (a batch that piles into few
    * cells means the FROZEN quantizer no longer fits the incoming
    * distribution and the index needs a rebuild, exactly the drift
    * signal production IVF deployments watch). Exact integer counts
    * only — the audit itself hash-matches an oracle replay. */
  def ivfPqAppendStats(codesIndex: DataFrame,
      codesNew: DataFrame): DataFrame =
    codesIndex.select(col("cid"), lit(0L).as("_new"))
      .unionAll(codesNew.select(col("cid"), lit(1L).as("_new")))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_total"), sum("_new").as("n_appended"))
      .select(col("cid"), (col("n_total") - col("n_appended")).as("n_index"),
        col("n_appended"), col("n_total"))

  // ---- SRP-LSH (the scale path) -----------------------------------------

  /** Deterministic pseudo-random *integer* hyperplanes (LCG, fixed
    * seed): `nBits` directions in Z^dim with components uniform in
    * [-2^20, 2^20). Integer components keep the SRP dot products exact
    * (|qv_k| <= ~10^5, |g_k| < 2^20, dim <= 4096 → no int64 overflow),
    * so the signature — and therefore the whole LSH blocking — is
    * bit-reproducible by any engine, including the DuckDB oracle. */
  def intPlanes(nBits: Int, dim: Int, seed: Long = 7L): Seq[Seq[Long]] = {
    var s = seed
    def next(): Long = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 43) - (1L << 20)
    }
    Seq.fill(nBits)(Seq.fill(dim)(next()))
  }

  /** SRP signature over the *quantized* vector: bit i = sign(qv · g_i),
    * packed into a long. Exact integer arithmetic throughout. */
  def srpSignature(qv: Column, planes: Seq[Seq[Long]]): Column =
    planes.zipWithIndex.map { case (g, i) =>
      when(idot(qv, typedLit(g)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Candidate pairs colliding on at least one of `bands` contiguous
    * `r`-bit bands of the SRP signature (equi-join blocking — no
    * all-pairs work). Feed through exact scoring to get final results.
    * Band buckets above [[Skew.selfJoinPairs]]'s hot threshold are tiled
    * so a viral cluster of near-identical vectors (one giant bucket)
    * cannot produce a single quadratic task. */
  def srpCandidates(sigs: DataFrame, bands: Int, r: Int,
      hotThreshold: Long = 100000L, tiles: Int = 8): DataFrame = {
    val mask = (1L << r) - 1
    val bk = (0 until bands).map(i =>
      struct(lit(i).as("band"),
        expr(s"shiftright(sig, ${i * r}) & $mask").as("key")))
    val exploded = sigs.select(col("id"), explode(array(bk: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.key"))
    Skew.selfJoinPairs(exploded, Seq("band", "key"), "id", hotThreshold,
        tiles)
      .distinct()
  }

  /** LSH-bucketed ANN: SRP-block the corpus, score only colliding pairs
    * exactly, keep top-k per query id. Recall < 1 by design (pairs
    * colliding in no band are skipped) — the scale path; the brute-force
    * [[topK]] is the exhaustive baseline. 32 bits in 4×8-bit bands gives
    * 256 buckets per band, so candidate volume is ~n²·4/256 worst case
    * and far less on real (spread-out) data. */
  /** Corpus with quantized vector, SRP signature, and squared norm —
    * the shared prelude of every SRP-blocked operator.
    *
    * Derives the embedding dimension from the data unless given: a wrong
    * dim nulls the SRP dot products (ldot is null on length mismatch)
    * and would collapse all vectors into one LSH bucket (all-pairs
    * candidate explosion). An empty/all-null corpus yields dim 1 —
    * harmless, the result is empty anyway. Ragged vectors (length != d)
    * would get null SRP dots → sig 0 — every such vector lands in
    * band-key 0 together and their null cosines would still rank in
    * top-k. Excluded instead.
    *
    * The derived dim is the *modal* vector length (ties → smaller d) —
    * deterministic on mixed-dimension corpora, where an arbitrary
    * `limit(1)` pick could silently exclude most of the data. One
    * bounded driver aggregate, and only on the default path (callers
    * that know their dim pass it and skip the job entirely). */
  private def srpPrepared(embs: DataFrame, idCol: String, vecCol: String,
      nBits: Int, dim: Int): DataFrame = {
    val d = if (dim > 0) dim
      else embs.filter(col(vecCol).isNotNull)
        .groupBy(size(col(vecCol)).as("d")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("d")).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(1)
    val planes = intPlanes(nBits, d)
    embs
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === d)
      .select(col(idCol).as("id"), quantize(col(vecCol)).as("qv"))
      .withColumn("sig", srpSignature(col("qv"), planes))
      .withColumn("n2", idot(col("qv"), col("qv")))
  }

  /** Near-dup pairs over SRP-banded candidates: pairs colliding in at
    * least one band, exactly rescored, kept at cosine >= threshold. The
    * blocking is part of the semantics (recall < 1 by design, like
    * [[annLsh]]) — integer planes make it exactly reproducible, so the
    * oracle replays candidate generation and rescoring bit-for-bit.
    * This is the 100 TB near-dup gate: zero-shuffle signatures, banded
    * equi-join candidates, never all pairs. */
  def nearDupPairsBlocked(embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBits: Int = 32, bands: Int = 4,
      dim: Int = -1): DataFrame = {
    // cached: prep feeds candidate generation plus both rescore joins —
    // without the cache each consumer re-scans and re-signs the corpus
    val prep = srpPrepared(embs, idCol, vecCol, nBits, dim).cache()
    Materialize("similarity:near_dup_blocked:rescore", cosineRescore(
        srpCandidates(prep.select("id", "sig"), bands, nBits / bands),
        prep, "i", "a", "j", "b")
      .filter(col("cos") >= threshold), prep)
  }

  def annLsh(embs: DataFrame, idCol: String, vecCol: String, k: Int,
      nBits: Int = 32, bands: Int = 4, dim: Int = -1,
      hotThreshold: Long = 100000L, tiles: Int = 8): DataFrame = {
    // cached for the same three-consumer reason as nearDupPairsBlocked
    val prep = srpPrepared(embs, idCol, vecCol, nBits, dim).cache()
    val cand = srpCandidates(prep.select("id", "sig"), bands, nBits / bands,
      hotThreshold, tiles)
    // score both orientations so every id gets neighbors
    val sym = cand.unionAll(cand.select(col("j").as("i"), col("i").as("j")))
    val scored = cosineRescore(sym, prep, "i", "a", "j", "b")
      .select(col("i").as("qid"), col("j").as("nid"), col("cos"))
    Materialize("similarity:ann_lsh:rank",
      topPerQuery(scored, k, "rank", col("cos").desc), prep)
  }

  // ---- Random-projection retrieval (Johnson-Lindenstrauss) ---------------

  /** Scale shift for the projected coordinates: |qv·g| ≤ dim·10⁴·2²⁰ ≈
    * 6.7e11 would overflow int64 when squared; dividing by 2²⁰ keeps
    * reduced-space squared distances ≤ ~3e13. */
  val RpShift = 1L << 20

  /** Reduced-space vectors: each of `kDim` coordinates is the integer
    * dot with a deterministic plane, truncated-divided by [[RpShift]]
    * via a shift on the magnitude (sign-explicit — a plain `div`
    * truncates on Spark but floors on DuckDB; shifting |s| and
    * re-applying the sign replays identically on both). */
  def rpProject(qv: Column, planes: Seq[Seq[Long]]): Column =
    array(planes.map { g =>
      val s = idot(qv, typedLit(g))
      val q = shiftright(abs(s), 20)
      when(s < 0, -q).otherwise(q)
    }: _*)

  /** Johnson-Lindenstrauss retrieval: project to `kDim` integer
    * coordinates (deterministic planes — [[intPlanes]], the SRP family
    * without the sign quantization), SCAN in the reduced space
    * (kDim·8 bytes per vector — 4× less than the quantized vector at
    * kDim=16), shortlist the top `rerank` per query by reduced squared
    * L2, and re-rank the shortlist with the exact full-dimension L2 —
    * the JL counterpart of the PQ/SQ8 compressed-scan-plus-refine
    * shape, completing the compression bracket: subspace codebooks
    * (PQ), per-dimension bytes (SQ8), sign bits (SRP-LSH), and now
    * dense low-rank projection (RP). Returns `(qid, nid, d2, rank)`.
    *
    * Scale shape: projection is a zero-shuffle scan; the query side
    * broadcasts; the rerank reads `rerank` raw vectors per query by
    * id-equi-join; the only exchanges are the two top-k windows. All
    * arithmetic exact int64, so the whole path hash-matches a replay. */
  def rpTopK(embs: DataFrame, idCol: String, vecCol: String, k: Int,
      queryLimit: Long, kDim: Int = 32, rerank: Int = 150,
      dim: Int = 64, seed: Long = 11L): DataFrame = {
    val prep = prepared(embs, idCol, vecCol)
      .filter(size(col("qv")) === dim).cache()
    val planes = intPlanes(kDim, dim, seed)
    // reduced-space squared L2 in dot-product form: Σ(a−b)² =
    // Σa² + Σb² − 2·Σab exactly over int64 (coords ≤ ~6.4e5 after the
    // RpShift, so no overflow at any term) — the norms are computed
    // ONCE per row through the native codegen'd ldot, replacing the
    // interpreted aggregate(zip_with((a−b)²)) lambda that ran per
    // (query × corpus vector) scored row
    val reduced = prep.select(col("id"),
        rpProject(col("qv"), planes).as("rp"))
      .withColumn("rn2", idot(col("rp"), col("rp")))
    val queries = reduced.filter(col("id") < queryLimit)
      .select(col("id").as("qid"), col("rp").as("qrp"),
        col("rn2").as("qrn2"))
    val scored = reduced.crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("nid"),
        (col("qrn2") + col("rn2") -
          lit(2L) * idot(col("qrp"), col("rp"))).as("rd2"))
    val short = topPerQuery(scored, rerank, "_srk", col("rd2"))
      .select("qid", "nid")
    Materialize("similarity:rp_topk:rerank",
      topPerQuery(l2Rescore(short, prep), k, "rank", col("d2")), prep)
  }

  // ---- MMR diversification (retrieve-then-rerank) ------------------------

  /** Two-stage retrieval with MMR diversification (Carbonell &
    * Goldstein 1998): per query, a top-`poolN` candidate pool by exact
    * inner product, then greedy maximal-marginal-relevance selection of
    * `k` results at λ = 1/2 — each pick maximizes
    * `relevance − max-similarity-to-already-picked`, so near-duplicate
    * results are traded for coverage. All similarities are exact-int64
    * dots of the quantized vectors; ties break to the smaller id — the
    * greedy sequence is bit-deterministic and the oracle replays every
    * step.
    *
    * Scale shape: the pool stage is the standard broadcast-query scan +
    * bounded per-query window; the MMR stage is ONE native expression
    * over the collected ≤`poolN`-row pool per query (O(k·poolN·dim)
    * per query, scan-stage, no extra shuffle) — the first-stage
    * retriever can swap to any ANN path without touching the
    * diversifier. */
  def mmrTopK(embs: DataFrame, idCol: String, vecCol: String, k: Int,
      poolN: Int, queryLimit: Long): DataFrame = {
    val prep = prepared(embs, idCol, vecCol).cache()
    val queries = prep.filter(col("id") < queryLimit)
      .select(col("id").as("qid"), col("qv").as("qqv"))
    val scored = prep.crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("nid"), col("qv"),
        idot(col("qqv"), col("qv")).as("qdot"))
    val pool = topPerQuery(scored, poolN, "_rn", col("qdot").desc)
      .groupBy("qid")
      .agg(collect_list(struct(col("nid"), col("qdot"), col("qv")))
        .as("cands"))
    Materialize("similarity:mmr_topk:select", pool
      .select(col("qid"), explode(
        GraftFunctions.mmrSelect(col("cands"), k)).as("m"))
      .select(col("qid"), col("m.nid").as("nid"), col("m.rank").as("rank")),
      prep)
  }

  // ---- Scalar quantization (SQ8 — the byte-per-dimension path) ----------

  /** Per-dimension corpus `(lo, hi)` bounds as ONE broadcast row (a
    * pos-sorted struct array): the entire SQ8 "model" is 2 ints per
    * dimension. The aggregate's key domain is `dim`, map-side combined
    * — the corpus never shuffles to train the quantizer. */
  def sqRanges(prep: DataFrame): DataFrame =
    prep.select(posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy("pos").agg(min("v").as("lo"), max("v").as("hi"))
      .agg(array_sort(collect_list(
        struct(col("pos"), col("lo"), col("hi")))).as("_rng"))

  /** Scalar-quantization ANN (SQ8, the uniform-quantizer path of
    * Faiss's `ScalarQuantizer`): each dimension is encoded to a byte,
    * `code = (x - lo) * 255 div (hi - lo)` (0 when the dimension is
    * constant), so the stored corpus is `dim` bytes per vector — 32×
    * smaller than float64, 4× smaller than the raw embedding — and the
    * per-dim bounds table (the whole model) broadcasts as one row.
    * Queries score asymmetrically against the RECONSTRUCTION
    * `rec = lo*255 + code*(hi-lo)` in a 255-scaled exact-int space:
    * `ad2 = Σ (q*255 - rec)²` stays int64 (|q·255| ≤ ~1.4e6 at this
    * corpus's value range), so the compressed index itself
    * hash-matches the oracle. Complements PQ/ADC: SQ8 keeps
    * per-dimension resolution (no codebook training), PQ trades it for
    * deeper compression.
    *
    * Scale shape: encoding and scoring are zero-shuffle scans with the
    * one-row bounds and the query set broadcast; the only exchange is
    * the per-query top-k window over scored pairs. */
  def sqTopK(embs: DataFrame, idCol: String, vecCol: String, k: Int,
      queryLimit: Long, dim: Int = 64): DataFrame = {
    val prep = prepared(embs, idCol, vecCol)
      .filter(size(col("qv")) === dim).cache()
    val rng = broadcast(sqRanges(prep))
    val codes = prep.crossJoin(rng)
      .select(col("id").as("nid"), expr(
        """zip_with(qv, _rng, (x, r) ->
          |  IF(r.hi > r.lo, ((x - r.lo) * 255L) div (r.hi - r.lo), 0L))"""
          .stripMargin).as("codes"))
    val queries = prep.filter(col("id") < queryLimit)
      .select(col("id").as("qid"), col("qv").as("qqv"),
        (col("n2") * lit(255L * 255L)).as("qn2s"))
    // asymmetric distance in dot-product form: Σ(q·255 − rec)² =
    // 255²·Σq² + Σrec² − 2·255·Σ(q·rec), exact over int64 at this
    // corpus's value range (the same bound the scaled space was sized
    // for). The reconstruction and its norm are computed ONCE per
    // corpus row; the per-(query × vector) scored row is then one
    // native ldot instead of the interpreted nested zip_with chain.
    val scored = codes.crossJoin(rng)
      .withColumn("rec", expr(
        "zip_with(codes, _rng, (c, r) -> r.lo * 255L + c * (r.hi - r.lo))"))
      .withColumn("recn2", idot(col("rec"), col("rec")))
      .crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (col("qn2s") + col("recn2") -
          lit(2L * 255L) * idot(col("qqv"), col("rec"))).as("ad2"))
    Materialize("similarity:sq_topk:rank",
      topPerQuery(scored, k, "rank", col("ad2")), prep)
  }
}
