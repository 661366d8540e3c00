package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Materialize, QueryDef, Tables}
import graft.functions.GraftFunctions
import graft.operators.Similarity

/** Similarity-search demos over `embeddings` (64-dim float vectors).
  * Quantized-int arithmetic makes the cosine IEEE-deterministic, and the
  * SRP hyperplanes are integer-valued, so even the LSH-bucketed ANN path
  * hash-matches a DuckDB oracle exactly (the oracle replays the same
  * planes, banding, and rescoring). */
object SimilarityQueries {

  // Shared DuckDB prelude: quantized vectors + exact squared norms.
  private val duckPrep =
    """q AS (
      |  SELECT vec_id,
      |         [CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT) for x in embedding] AS qv
      |  FROM embeddings
      |), p AS (
      |  SELECT vec_id, qv,
      |         CAST(list_sum([qv[k]*qv[k] for k in range(1,65)]) AS BIGINT) AS n2
      |  FROM q
      |)""".stripMargin

  /** Shared DuckDB replay of the SRP-banding candidate generation
    * ([[Similarity.srpCandidates]]) with the identical integer plane
    * constants — generated so the constants can never drift from the
    * Scala side. Yields CTEs `p` (quantized + norms) … `cand (i, j)`. */
  private def srpCandSql(nBits: Int, bands: Int): String = {
    val planes = Similarity.intPlanes(nBits, 64)
    val planesLit = planes.map(_.mkString("[", ",", "]"))
      .mkString("[\n", ",\n", "\n]")
    val r = nBits / bands
    val mask = (1L << r) - 1
    s"""$duckPrep,
       |planes AS (SELECT $planesLit AS g),
       |sigb AS (
       |  SELECT vec_id,
       |         CASE WHEN list_sum([qv[k]*g[CAST(b+1 AS INT)][k] for k in range(1,65)]) > 0
       |              THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END AS bit
       |  FROM p, planes, UNNEST(range(0, $nBits)) AS t(b)
       |),
       |sig AS (SELECT vec_id, CAST(sum(bit) AS BIGINT) AS sig FROM sigb GROUP BY vec_id),
       |bnd AS (
       |  SELECT vec_id, bd, (sig >> CAST(bd*$r AS INT)) & $mask AS key
       |  FROM sig, UNNEST(range(0, $bands)) AS t(bd)
       |),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
       |  FROM bnd a JOIN bnd b ON a.bd = b.bd AND a.key = b.key AND a.vec_id < b.vec_id
       |)""".stripMargin
  }

  /** DuckDB replay of [[Similarity.annLsh]]: shared SRP candidates +
    * symmetric orientation + exact rescoring + per-query top-k. */
  private def annOracleSql(k: Int, nBits: Int, bands: Int): String = {
    s"""WITH ${srpCandSql(nBits, bands)},
       |sym AS (SELECT i, j FROM cand UNION ALL SELECT j AS i, i AS j FROM cand),
       |scored AS (
       |  SELECT s.i AS qid, s.j AS nid,
       |         CAST(list_sum([a.qv[k]*b.qv[k] for k in range(1,65)]) AS DOUBLE)
       |           / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
       |  FROM sym s JOIN p a ON a.vec_id = s.i JOIN p b ON b.vec_id = s.j
       |)
       |SELECT qid, nid, cos, CAST(rank AS INT) AS rank FROM (
       |  SELECT qid, nid, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
       |  FROM scored
       |) WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** DuckDB replay of [[Similarity.nearDupPairsBlocked]]: shared SRP
    * candidates, exact rescoring, threshold filter. */
  private def neardupBlockedOracleSql(threshold: Double, nBits: Int,
      bands: Int): String =
    s"""WITH ${srpCandSql(nBits, bands)}
       |SELECT c.i, c.j,
       |       CAST(list_sum([a.qv[k]*b.qv[k] for k in range(1,65)]) AS DOUBLE)
       |         / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
       |FROM cand c JOIN p a ON a.vec_id = c.i JOIN p b ON b.vec_id = c.j
       |WHERE CAST(list_sum([a.qv[k]*b.qv[k] for k in range(1,65)]) AS DOUBLE)
       |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= $threshold
       |ORDER BY i, j""".stripMargin

  /** Per-query recall@5 of `approx` against the exact-L2 top-5
    * `gtTop` (both `(qid, nid)`): `(qid, n_hits, recall_at_5)` for
    * every ground-truth query — the audit tail of the `*_recall`
    * queries over exact-L2 indexes. */
  private def recallAt5(approx: DataFrame, gtTop: DataFrame): DataFrame = {
    val hits = approx.join(gtTop, Seq("qid", "nid"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    gtTop.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") /
          lit(5.0).cast("double")).as("recall_at_5"))
      .orderBy("qid")
  }

  /** `name(qid, nid)`: the top `k` per query of `src` by (`key`, nid). */
  private def apprSql(name: String, src: String, key: String, k: Int): String =
    s"""$name AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
       |                                        ORDER BY $key, nid) AS rank
       |    FROM $src) WHERE rank <= $k)""".stripMargin

  /** Exact-L2 ground truth `gt(qid, nid)`: the top `k` neighbours over
    * `p` of each vector with id below `queryLimit`. */
  private def gtSql(queryLimit: Int, k: Int, mat: String = ""): String =
    s"""gt AS $mat(
       |  SELECT qid, nid FROM (
       |    SELECT a.vec_id AS qid, b.vec_id AS nid,
       |           row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |             a.n2 + b.n2 - 2*CAST(list_sum(
       |               [a.qv[kk]*b.qv[kk] for kk in range(1,65)])
       |               AS BIGINT),
       |             b.vec_id) AS rk
       |    FROM (SELECT * FROM p WHERE vec_id < $queryLimit) a
       |    JOIN p b ON b.vec_id <> a.vec_id) WHERE rk <= $k)""".stripMargin

  /** DuckDB twin of [[recallAt5]], appended to a family's CTEs whose
    * `ranked(qid, nid, d2)` is the approximate answer: its top 5 per
    * query against the exact-L2 brute force over `p`. */
  private def recallAt5Sql(ranked: String): String =
    s""",
       |${apprSql("appr", ranked, "d2", 5)},
       |${gtSql(10, 5)},
       |h AS (SELECT a.qid, CAST(count(*) AS BIGINT) AS n_hits
       |      FROM appr a JOIN gt USING (qid, nid) GROUP BY 1)
       |SELECT q.vec_id AS qid,
       |       coalesce(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
       |       CAST(coalesce(h.n_hits, 0) AS DOUBLE)
       |         / CAST(5 AS DOUBLE) AS recall_at_5
       |FROM (SELECT vec_id FROM p WHERE vec_id < 10) q
       |LEFT JOIN h ON h.qid = q.vec_id
       |ORDER BY qid""".stripMargin

  /** DuckDB replay of the recall@k evaluation: brute-force top-k as
    * ground truth, SRP-LSH top-k as the candidate, per-query hit count
    * via a left join — the same plan shape the Spark side runs. */
  private def annRecallSql(k: Int, qLimit: Int, nBits: Int,
      bands: Int): String =
    s"""WITH ${srpCandSql(nBits, bands)},
       |sym AS (SELECT i, j FROM cand UNION ALL SELECT j AS i, i AS j FROM cand),
       |annscored AS (
       |  SELECT s.i AS qid, s.j AS nid,
       |         CAST(list_sum([a.qv[k]*b.qv[k] for k in range(1,65)]) AS DOUBLE)
       |           / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
       |  FROM sym s JOIN p a ON a.vec_id = s.i JOIN p b ON b.vec_id = s.j),
       |ann AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
       |    FROM annscored) WHERE rank <= $k AND qid < $qLimit),
       |brute AS (
       |  SELECT qid, nid FROM (
       |    SELECT b.vec_id AS qid, a.vec_id AS nid,
       |      row_number() OVER (
       |        PARTITION BY b.vec_id
       |        ORDER BY CAST(list_sum([a.qv[k]*b.qv[k] for k in range(1,65)]) AS DOUBLE)
       |          / (sqrt(CAST(b.n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE))) DESC,
       |          a.vec_id) AS rank
       |    FROM p a CROSS JOIN p b
       |    WHERE b.vec_id < $qLimit AND a.vec_id <> b.vec_id
       |  ) WHERE rank <= $k)
       |SELECT b.qid, CAST(count(a.nid) AS BIGINT) AS hits,
       |       CAST(count(a.nid) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
       |FROM brute b LEFT JOIN ann a ON a.qid = b.qid AND a.nid = b.nid
       |GROUP BY b.qid ORDER BY b.qid""".stripMargin

  /** Ranked corpus×centroids for a given centroid CTE: rnk 1 = cell
    * assignment (= [[Similarity.withNearestCell]]'s argmin), rnk <=
    * nProbe = probe list ([[Similarity.ivfTopK]]'s sorted-slice). */
  private def rankedSql(cents: String, extra: String,
      src: String = "p"): String =
    s"""SELECT $src.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY $src.vec_id ORDER BY
       |        $src.n2 + c.cn2 - 2*CAST(list_sum([$src.qv[k]*c.cv[k] for k in range(1,65)]) AS BIGINT),
       |        c.cid) AS rnk
       |    FROM $src, $cents c$extra""".stripMargin

  /** CTE chain `cents0 … cents<iters>` replaying
    * [[Similarity.refinedCentroids]] (seed sample + unrolled Lloyd
    * steps) — generated so the refinement arithmetic cannot drift from
    * [[Similarity.lloydStep]]. Shared by the IVF and SemDedup oracles.
    * Every CTE name carries the suffix `tag`; `mat` ("" or
    * "MATERIALIZED ") sits between `AS` and the CTE body. */
  private def centsSql(nList: Int, iters: Int, tag: String = "",
      mat: String = ""): String = {
    val lloyd = (1 to iters).map { i =>
      val prev = s"cents${i - 1}$tag"
      // truncated integer mean per dimension: sign-explicit |s| // c
      // (DuckDB // floors, Spark div truncates — identical on |s|)
      s"""assign$i$tag AS $mat(
         |  SELECT vec_id, cid FROM (
         |    ${rankedSql(prev, "")}) WHERE rnk = 1),
         |sums$i$tag AS $mat(
         |  SELECT a.cid, t.k,
         |         CAST(sum(p.qv[CAST(t.k AS INT)]) AS BIGINT) AS s,
         |         count(*) AS c
         |  FROM assign$i$tag a JOIN p ON p.vec_id = a.vec_id,
         |       UNNEST(range(1, 65)) AS t(k)
         |  GROUP BY a.cid, t.k),
         |ref$i$tag AS $mat(
         |  SELECT cid,
         |         list(CASE WHEN s < 0 THEN -(abs(s) // c)
         |              ELSE abs(s) // c END ORDER BY k) AS ncv
         |  FROM sums$i$tag GROUP BY cid),
         |cents$i$tag AS $mat(
         |  SELECT cid, cv,
         |         CAST(list_sum([cv[k]*cv[k] for k in range(1,65)]) AS BIGINT) AS cn2
         |  FROM (SELECT c0.cid, COALESCE(r.ncv, c0.cv) AS cv
         |        FROM $prev c0 LEFT JOIN ref$i$tag r USING (cid)))""".stripMargin
    }.map(s => s",\n$s").mkString
    s"cents0$tag AS $mat(SELECT vec_id AS cid, qv AS cv, n2 AS cn2 FROM p WHERE vec_id < $nList)$lloyd"
  }

  /** DuckDB replay of [[Similarity.ivfTopK]]. */
  private def ivfOracleSql(k: Int, queryLimit: Int, nList: Int, nProbe: Int,
      iters: Int): String = {
    val cents = s"cents$iters"
    s"""WITH $duckPrep,
       |${centsSql(nList, iters)},
       |assign AS (
       |  SELECT vec_id AS nid, cid FROM (
       |    ${rankedSql(cents, "")}) WHERE rnk = 1),
       |probe AS (
       |  SELECT vec_id AS qid, cid FROM (
       |    ${rankedSql(cents, s" WHERE p.vec_id < $queryLimit")}) WHERE rnk <= $nProbe),
       |cand AS (
       |  SELECT pr.qid, a.nid FROM probe pr JOIN assign a USING (cid)
       |  WHERE a.nid <> pr.qid),
       |scored AS (
       |  SELECT cand.qid, cand.nid,
       |    CAST(list_sum([a.qv[k]*b.qv[k] for k in range(1,65)]) AS DOUBLE)
       |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
       |  FROM cand JOIN p a ON a.vec_id = cand.qid
       |            JOIN p b ON b.vec_id = cand.nid)
       |SELECT qid, nid, cos, CAST(rank AS INT) AS rank FROM (
       |  SELECT qid, nid, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
       |  FROM scored
       |) WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** DuckDB replay of [[Similarity.ivfPqTopK]]: refined centroids,
    * per-vector residuals, residual codebook + code assignment, probe
    * lists, per-cell query-residual LUT distances, ADC sums. Generated
    * from the same parameters the Spark side uses. */
  private def ivfPqOracleSql(k: Int, queryLimit: Int, nList: Int,
      nProbe: Int, iters: Int, m: Int, ksub: Int): String =
    ivfPqCtes(queryLimit, nList, nProbe, iters, m, ksub) +
      s"""
         |SELECT qid, nid, ad2, CAST(rank AS INT) AS rank FROM (
         |  SELECT qid, nid, ad2,
         |         row_number() OVER (PARTITION BY qid
         |                            ORDER BY ad2, nid) AS rank
         |  FROM adc) WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** Squared L2 distance between sub-vector `t.m` (width `subDim`) of
    * the vectors `a` and `b`. */
  private def subd2(a: String, b: String, subDim: Int): String =
    s"""CAST(list_sum([($a[CAST(t.m*$subDim+kk AS INT)]
       | - $b[CAST(t.m*$subDim+kk AS INT)])
       | * ($a[CAST(t.m*$subDim+kk AS INT)]
       | - $b[CAST(t.m*$subDim+kk AS INT)])
       |for kk in range(1, ${subDim + 1})]) AS BIGINT)""".stripMargin

  /** `name<tag>` under the alias `name` (plain `name` when untagged). */
  private def tagged(name: String, tag: String): String =
    if (tag.isEmpty) name else s"$name$tag $name"

  /** The training half of the IVF-PQ oracles: refined centroids, cell
    * assignment `asg`, residuals `res`, residual codebook `cb` and codes
    * `cd`, every name suffixed by `tag`. */
  private def ivfPqTrainCtes(nList: Int, iters: Int, m: Int, ksub: Int,
      tag: String = "", mat: String = ""): String = {
    val cents = s"cents$iters$tag"
    s"""${centsSql(nList, iters, tag, mat)},
       |asg$tag AS $mat(
       |  SELECT vec_id, cid FROM (
       |    ${rankedSql(cents, "")}) WHERE rnk = 1),
       |res$tag AS $mat(
       |  SELECT p.vec_id, a.cid,
       |         [p.qv[kk] - c.cv[kk] for kk in range(1, 65)] AS rv
       |  FROM p JOIN asg$tag a USING (vec_id) JOIN $cents c USING (cid)),
       |cb$tag AS $mat(SELECT vec_id AS cbid, rv AS cbv FROM res$tag
       |       WHERE vec_id < $ksub),
       |cd$tag AS $mat(
       |  SELECT vec_id, cid, m, cbid FROM (
       |    SELECT r.vec_id, r.cid, t.m, c.cbid,
       |           row_number() OVER (PARTITION BY r.vec_id, t.m
       |             ORDER BY ${subd2("r.rv", "c.cbv", 64 / m)}, c.cbid) AS rn
       |    FROM res$tag r, unnest(range(0, $m)) AS t(m), cb$tag c)
       |  WHERE rn = 1)""".stripMargin
  }

  /** The query half of the IVF-PQ oracles over the training CTEs tagged
    * `train`: probe lists, per-cell query-residual LUT distances and the
    * unranked per-candidate ADC sums `adc`, every name suffixed by `tag`
    * (`adc` takes `mat`). */
  private def ivfPqProbeCtes(queryLimit: Int, nProbe: Int, iters: Int,
      m: Int, train: String = "", tag: String = "",
      mat: String = ""): String = {
    val cents = s"cents$iters$train"
    s"""probe$tag AS (
       |  SELECT vec_id AS qid, cid FROM (
       |    ${rankedSql(cents, s" WHERE p.vec_id < $queryLimit")})
       |  WHERE rnk <= $nProbe),
       |qres$tag AS (
       |  SELECT pr.qid, pr.cid,
       |         [p.qv[kk] - c.cv[kk] for kk in range(1, 65)] AS qrv
       |  FROM probe$tag pr JOIN p ON p.vec_id = pr.qid
       |       JOIN $cents c USING (cid)),
       |qd$tag AS (
       |  SELECT q.qid, q.cid, t.m, c.cbid,
       |         ${subd2("q.qrv", "c.cbv", 64 / m)} AS d2
       |  FROM qres$tag q, unnest(range(0, $m)) AS t(m), cb$train c),
       |adc$tag AS $mat(
       |  SELECT qd.qid, cd.vec_id AS nid, CAST(sum(qd.d2) AS BIGINT) AS ad2
       |  FROM ${tagged("cd", train)} JOIN ${tagged("qd", tag)} ON qd.cid = cd.cid AND qd.m = cd.m
       |                 AND qd.cbid = cd.cbid
       |  WHERE qd.qid <> cd.vec_id
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** The shared `WITH … adc` chain of the IVF-PQ oracles (through the
    * unranked per-candidate ADC sums) — one spelling for the top-k
    * query and the recall audit. */
  private def ivfPqCtes(queryLimit: Int, nList: Int,
      nProbe: Int, iters: Int, m: Int, ksub: Int): String =
    s"""WITH $duckPrep,
       |${ivfPqTrainCtes(nList, iters, m, ksub)},
       |${ivfPqProbeCtes(queryLimit, nProbe, iters, m)}""".stripMargin

  /** The exact-rerank refine stage over `adc<probe>`: `short` (the ADC
    * top-`rerank` shortlist per query) and `rr` (the shortlist
    * re-scored with exact integer L2), both suffixed by `tag` — the
    * oracle twin of [[Similarity.ivfPqScorePlan]]'s `rerank > 0` path. */
  private def ivfPqRefineCtes(rerank: Int, probe: String = "",
      tag: String = ""): String =
    s"""short$tag AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
       |                                        ORDER BY ad2, nid) AS srk
       |    FROM adc$probe) WHERE srk <= $rerank),
       |rr$tag AS (
       |  SELECT s.qid, s.nid,
       |         a.n2 + b.n2 - 2*CAST(list_sum(
       |           [a.qv[kk]*b.qv[kk] for kk in range(1,65)]) AS BIGINT)
       |           AS d2
       |  FROM short$tag s JOIN p a ON a.vec_id = s.qid
       |       JOIN p b ON b.vec_id = s.nid)""".stripMargin

  /** [[ivfPqCtes]] extended with [[ivfPqRefineCtes]]. */
  private def ivfPqRefinedCtes(queryLimit: Int, nList: Int, nProbe: Int,
      iters: Int, m: Int, ksub: Int, rerank: Int): String =
    ivfPqCtes(queryLimit, nList, nProbe, iters, m, ksub) + ",\n" +
      ivfPqRefineCtes(rerank)

  /** DuckDB replay of the refined (rerank > 0) IVF-PQ top-k. */
  private def ivfPqRefinedOracleSql(k: Int, queryLimit: Int, nList: Int,
      nProbe: Int, iters: Int, m: Int, ksub: Int, rerank: Int): String =
    ivfPqRefinedCtes(queryLimit, nList, nProbe, iters, m, ksub, rerank) +
      s"""
         |SELECT qid, nid, d2, CAST(rank AS INT) AS rank FROM (
         |  SELECT qid, nid, d2,
         |         row_number() OVER (PARTITION BY qid
         |                            ORDER BY d2, nid) AS rank
         |  FROM rr) WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** IVF-PQ operating-point sweep over GIVEN indexes: recall@`k` vs
    * exact-L2 ground truth for every (nProbe × index × rerank)
    * configuration, as ONE table `(n_probe, ksub, rerank, n_hits,
    * recall_at_<k>)` ordered by its first three columns — the
    * parameter study a serving pipeline runs before choosing the index
    * configuration it persists (nProbe trades scan fraction for coarse
    * recall, ksub trades code size for residual resolution). `indexes`
    * maps each ksub to its `(centroids, codebook rows, codes)`, as
    * [[graft.sources.Models.ivfPqIndex]] returns them; `embs` holds
    * `(vec_id, embedding)` rows.
    *
    * Cost shape: each index is scored ONCE, at the widest nProbe, with
    * every candidate's probe rank ([[Similarity.ivfPqAdcScored]]). The
    * cells probed at a narrower nProbe are a prefix of the same probe
    * order, so each arm is the filter `probe_rank <= nProbe` over that
    * one table, then its rerank. Rows stay exact: hits are integer
    * counts and the recall is one IEEE division by the fixed
    * `queryLimit·k` denominator. */
  def ivfPqSweep(embs: DataFrame,
      indexes: Seq[(Int, (DataFrame, DataFrame, DataFrame))], k: Int,
      queryLimit: Long, nProbes: Seq[Int], reranks: Seq[Int], m: Int,
      dim: Int): DataFrame = {
    // cached: the ground truth, every probe and every rerank read it
    val prep = Similarity.prepared(embs, "vec_id", "embedding")
      .filter(size(col("qv")) === dim).cache()
    val gt = Materialize("similarity:sim_ivfpq_sweep:ground_truth",
      Similarity.exactL2TopK(prep, k, queryLimit))
    val arms = for {
      (ksub, (cents, cbRows, codes)) <- indexes
      scored = Materialize(s"similarity:sim_ivfpq_sweep:adc_ksub$ksub",
        Similarity.ivfPqAdcScored(prep, cents, cbRows, codes, queryLimit,
          nProbes.max, m, probeRank = true))
      nProbe <- nProbes
      rerank <- reranks
    } yield Similarity
      .ivfPqRankFromScored(scored.filter(col("probe_rank") <= nProbe),
        prep, k, rerank)
      .join(gt, Seq("qid", "nid"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(nProbe).as("n_probe"), lit(ksub).as("ksub"),
        lit(rerank).as("rerank"), col("n_hits"),
        (col("n_hits").cast("double") / lit((queryLimit * k).toDouble))
          .as(s"recall_at_$k"))
    Materialize("similarity:sim_ivfpq_sweep:recall",
      arms.reduce(_.unionAll(_)).orderBy("n_probe", "ksub", "rerank"), prep)
  }

  /** DuckDB replay of the operating-point sweep: recall@k of the IVF-PQ
    * top-k against the exact-L2 ground truth `gt` per (nProbe, ksub,
    * rerank) config, generated from the same parameters as the Spark
    * arms so the operating points can never drift between the two
    * sides. Each ksub retrains the whole quantizer from scratch (the
    * reload==retrain proof against that ksub's stored index); training,
    * `gt` and each (ksub, nProbe)'s ADC sums are MATERIALIZED CTEs that
    * every arm reading them shares, so training runs once per ksub. */
  private def ivfPqSweepSql(k: Int, queryLimit: Int, nList: Int,
      iters: Int, m: Int, nProbes: Seq[Int], ksubs: Seq[Int],
      reranks: Seq[Int]): String = {
    val mat = "MATERIALIZED "
    val probes = for { ks <- ksubs; np <- nProbes } yield (ks, np)
    val arms = for { (ks, np) <- probes; rr <- reranks } yield {
      val (probe, arm) = (s"_k${ks}_p$np", s"_k${ks}_p${np}_r$rr")
      val cte =
        if (rr <= 0) apprSql(s"appr$arm", s"adc$probe", "ad2", k)
        else s"${ivfPqRefineCtes(rr, probe, arm)},\n" +
          apprSql(s"appr$arm", s"rr$arm", "d2", k)
      (cte, s"""SELECT CAST($np AS INT) AS n_probe, CAST($ks AS INT) AS ksub,
         |       CAST($rr AS INT) AS rerank, n_hits,
         |       CAST(n_hits AS DOUBLE) / CAST(${queryLimit * k} AS DOUBLE)
         |         AS recall_at_$k
         |FROM (SELECT CAST(count(*) AS BIGINT) AS n_hits
         |      FROM appr$arm JOIN gt USING (qid, nid))""".stripMargin)
    }
    (Seq(s"WITH $duckPrep", gtSql(queryLimit, k, mat)) ++
      ksubs.map(ks => ivfPqTrainCtes(nList, iters, m, ks, s"_k$ks", mat)) ++
      probes.map { case (ks, np) => ivfPqProbeCtes(queryLimit, np, iters, m,
        s"_k$ks", s"_k${ks}_p$np", mat) } ++
      arms.map(_._1)).mkString("", ",\n", "\n") +
      arms.map(_._2).mkString("\nUNION ALL\n") +
      "\nORDER BY n_probe, ksub, rerank"
  }

  /** DuckDB replay of the daily append fold: the md5-split old corpus
    * trains the quantizer + residual codebook, the new batch is encoded
    * against the FROZEN model, and the output is the post-append
    * per-cell drift audit — counts plus the appended rows' summed code
    * positions, so the encode-against-frozen-model step itself is
    * hash-pinned, not just the routing. */
  private def ivfPqAppendSql(nList: Int, iters: Int, m: Int,
      ksub: Int): String = {
    val cents = s"cents$iters"
    s"""WITH q AS (
       |  SELECT vec_id,
       |         [CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT) for x in embedding] AS qv
       |  FROM embeddings),
       |pall AS (
       |  SELECT vec_id, qv,
       |         CAST(list_sum([qv[k]*qv[k] for k in range(1,65)]) AS BIGINT) AS n2
       |  FROM q),
       |p AS (SELECT * FROM pall WHERE md5(CAST(vec_id AS VARCHAR)) < 'cc'),
       |pb AS (SELECT * FROM pall WHERE md5(CAST(vec_id AS VARCHAR)) >= 'cc'),
       |${centsSql(nList, iters)},
       |asg AS (SELECT vec_id, cid FROM (
       |    ${rankedSql(cents, "")}) WHERE rnk = 1),
       |res AS (
       |  SELECT p.vec_id, a.cid,
       |         [p.qv[kk] - c.cv[kk] for kk in range(1, 65)] AS rv
       |  FROM p JOIN asg a USING (vec_id) JOIN $cents c USING (cid)),
       |cb AS (SELECT vec_id AS cbid, rv AS cbv FROM res
       |       WHERE vec_id < $ksub),
       |cbp AS (SELECT cbid, cbv,
       |               row_number() OVER (ORDER BY cbid) AS pos FROM cb),
       |asgb AS (SELECT vec_id, cid FROM (
       |    ${rankedSql(cents, "", "pb")}) WHERE rnk = 1),
       |resb AS (
       |  SELECT pb.vec_id, a.cid,
       |         [pb.qv[kk] - c.cv[kk] for kk in range(1, 65)] AS rv
       |  FROM pb JOIN asgb a USING (vec_id) JOIN $cents c USING (cid)),
       |cdn AS (
       |  SELECT vec_id, cid, m, pos FROM (
       |    SELECT r.vec_id, r.cid, t.m, c.pos,
       |           row_number() OVER (PARTITION BY r.vec_id, t.m
       |             ORDER BY ${subd2("r.rv", "c.cbv", 64 / m)}, c.cbid) AS rn
       |    FROM resb r, unnest(range(0, $m)) AS t(m), cbp c)
       |  WHERE rn = 1),
       |oldc AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_index
       |         FROM asg GROUP BY cid),
       |newc AS (SELECT cid,
       |                CAST(count(DISTINCT vec_id) AS BIGINT) AS n_appended,
       |                CAST(sum(pos) AS BIGINT) AS new_code_sum
       |         FROM cdn GROUP BY cid)
       |SELECT COALESCE(o.cid, n.cid) AS cid,
       |       COALESCE(o.n_index, CAST(0 AS BIGINT)) AS n_index,
       |       COALESCE(n.n_appended, CAST(0 AS BIGINT)) AS n_appended,
       |       COALESCE(o.n_index, CAST(0 AS BIGINT))
       |         + COALESCE(n.n_appended, CAST(0 AS BIGINT)) AS n_total,
       |       COALESCE(n.new_code_sum, CAST(0 AS BIGINT)) AS new_code_sum
       |FROM oldc o FULL OUTER JOIN newc n ON o.cid = n.cid
       |ORDER BY cid""".stripMargin
  }

  /** DuckDB replay of [[Similarity.rpTopK]]'s chain through the exact
    * rerank: planes literal → sign-explicit shifted projections →
    * reduced-space ranking → top-`rerank` shortlist → exact full-dim
    * L2 (`ex(qid, nid, d2)`). Generated from the same (kDim, seed) as
    * the Spark side, so the planes can never drift. */
  private def rpCtes(queryLimit: Int, kDim: Int, rerank: Int,
      seed: Long): String = {
    val planes = Similarity.intPlanes(kDim, 64, seed)
    val planesLit = planes.map(_.mkString("[", ",", "]"))
      .mkString("[\n", ",\n", "\n]")
    s"""WITH $duckPrep,
       |planes AS (SELECT $planesLit AS g),
       |red AS (
       |  SELECT vec_id,
       |         [CASE WHEN s < 0 THEN -(abs(s) // ${Similarity.RpShift})
       |               ELSE abs(s) // ${Similarity.RpShift} END
       |          for s in [CAST(list_sum(
       |              [qv[i]*g[j][i] for i in range(1,65)]) AS BIGINT)
       |            for j in range(1, ${kDim + 1})]] AS rp
       |  FROM p, planes),
       |rd AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS nid,
       |         CAST(list_sum([(a.rp[j]-b.rp[j])*(a.rp[j]-b.rp[j])
       |           for j in range(1,${kDim + 1})]) AS BIGINT) AS rd2
       |  FROM (SELECT * FROM red WHERE vec_id < $queryLimit) a
       |  JOIN red b ON b.vec_id <> a.vec_id),
       |short AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
       |                                        ORDER BY rd2, nid) AS srk
       |    FROM rd) WHERE srk <= $rerank),
       |ex AS (
       |  SELECT s.qid, s.nid,
       |         a.n2 + b.n2 - 2*CAST(list_sum(
       |           [a.qv[i]*b.qv[i] for i in range(1,65)]) AS BIGINT) AS d2
       |  FROM short s JOIN p a ON a.vec_id = s.qid
       |       JOIN p b ON b.vec_id = s.nid)""".stripMargin
  }

  /** DuckDB replay of [[Similarity.semDedup]]: refined centroids + cell
    * assignment + within-cell lower-id near-neighbor drop rule. */
  private def semDedupOracleSql(threshold: Double, nList: Int,
      iters: Int): String = {
    val cents = s"cents$iters"
    s"""WITH $duckPrep,
       |${centsSql(nList, iters)},
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    ${rankedSql(cents, "")}) WHERE rnk = 1),
       |dropped AS (
       |  SELECT DISTINCT a2.vec_id AS j
       |  FROM assign a1 JOIN assign a2
       |    ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
       |  JOIN p pa ON pa.vec_id = a1.vec_id
       |  JOIN p pb ON pb.vec_id = a2.vec_id
       |  WHERE CAST(list_sum([pa.qv[k]*pb.qv[k] for k in range(1,65)]) AS DOUBLE)
       |      / (sqrt(CAST(pa.n2 AS DOUBLE)) * sqrt(CAST(pb.n2 AS DOUBLE))) >= $threshold
       |)
       |SELECT a.vec_id, a.cid, (d.j IS NULL) AS kept
       |FROM assign a LEFT JOIN dropped d ON d.j = a.vec_id
       |ORDER BY vec_id""".stripMargin
  }

  /** DuckDB replay of [[Similarity.withNearestCell]] + per-cell stats —
    * the index-health audit for the same refined centroids the IVF /
    * SemDedup entries build. */
  private def ivfStatsSql(nList: Int, iters: Int): String = {
    val cents = s"cents$iters"
    s"""WITH $duckPrep,
       |${centsSql(nList, iters)},
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    ${rankedSql(cents, "")}) WHERE rnk = 1)
       |SELECT a.cid, count(*) AS n_members,
       |  CAST(round(CAST(sum(p.n2 + c.cn2 -
       |    2*CAST(list_sum([p.qv[k]*c.cv[k] for k in range(1,65)]) AS BIGINT)) AS DOUBLE)
       |    * 1000 / count(*)) AS BIGINT) AS msd_milli
       |FROM assign a JOIN p ON p.vec_id = a.vec_id
       |     JOIN $cents c ON c.cid = a.cid
       |GROUP BY a.cid ORDER BY a.cid""".stripMargin
  }

  /** DuckDB replay of SRP-blocked near-dup pairs fed through connected
    * components (transitive closure by recursive CTE) down to the
    * surviving canonical vectors — the embedding-modality twin of
    * DedupQueries' dd_survivors oracle. */
  private def neardupSurvivorsSql(threshold: Double, nBits: Int,
      bands: Int): String =
    s"""WITH RECURSIVE ${srpCandSql(nBits, bands)},
       |pairs AS (
       |  SELECT c.i, c.j
       |  FROM cand c JOIN p a ON a.vec_id = c.i JOIN p b ON b.vec_id = c.j
       |  WHERE CAST(list_sum([a.qv[k]*b.qv[k] for k in range(1,65)]) AS DOUBLE)
       |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= $threshold
       |),
       |edges AS (SELECT i, j FROM pairs UNION ALL SELECT j AS i, i AS j FROM pairs),
       |reach(id, r) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT e.i, reach.r FROM edges e JOIN reach ON reach.id = e.j
       |),
       |labels AS (
       |  SELECT id, CAST(min(r) AS BIGINT) AS label FROM reach GROUP BY id
       |)
       |SELECT label AS vec_id, CAST(count(*) AS BIGINT) AS cluster_size
       |FROM labels GROUP BY label ORDER BY vec_id""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // Brute-force cosine top-5 for 10 query vectors.
    "sim_topk_brute" -> QueryDef(
      (s, d) => {
        val prep = Similarity.prepared(
          Tables.embeddings(s, d), "vec_id", "embedding")
        Similarity.topK(prep, prep.filter(col("id") < 10), 5)
          .orderBy("qid", "rank")
      },
      Some(
        s"""WITH $duckPrep
           |SELECT qid, nid, cos, CAST(rank AS INT) AS rank FROM (
           |  SELECT b.vec_id AS qid, a.vec_id AS nid,
           |    CAST(list_sum([a.qv[k]*b.qv[k] for k in range(1,65)]) AS DOUBLE)
           |      / (sqrt(CAST(b.n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE))) AS cos,
           |    row_number() OVER (
           |      PARTITION BY b.vec_id
           |      ORDER BY CAST(list_sum([a.qv[k]*b.qv[k] for k in range(1,65)]) AS DOUBLE)
           |        / (sqrt(CAST(b.n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE))) DESC,
           |        a.vec_id) AS rank
           |  FROM p a CROSS JOIN p b
           |  WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
           |) WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),
      doc = "brute-force cosine top-k ANN baseline (broadcast query side)"),

    // Exact embedding near-duplicate pairs at cosine >= 0.4.
    "sim_cosine_neardup" -> QueryDef(
      (s, d) =>
        Similarity.nearDupPairs(
          Similarity.prepared(Tables.embeddings(s, d), "vec_id", "embedding"),
          0.4).orderBy("i", "j"),
      Some(
        s"""WITH $duckPrep
           |SELECT a.vec_id AS i, b.vec_id AS j,
           |  CAST(list_sum([a.qv[k]*b.qv[k] for k in range(1,65)]) AS DOUBLE)
           |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
           |FROM p a JOIN p b ON a.vec_id < b.vec_id
           |WHERE CAST(list_sum([a.qv[k]*b.qv[k] for k in range(1,65)]) AS DOUBLE)
           |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= 0.4
           |ORDER BY i, j""".stripMargin),
      doc = "embedding-cosine near-dup gate, exact quantized-int scoring"),

    // SRP-LSH bucketed ANN — integer planes make the blocking exactly
    // reproducible, so even the approximate path is hash-checked.
    "sim_ann_lsh" -> QueryDef(
      (s, d) =>
        Similarity.annLsh(
          Tables.embeddings(s, d), "vec_id", "embedding", 5, dim = 64)
          .orderBy("qid", "rank"),
      Some(annOracleSql(5, 32, 4)),
      doc = "random-hyperplane LSH blocking (32 bits, 4x8-bit bands) + " +
        "exact rescoring, top-5 per vector"),

    // Index-quality evaluation: recall@5 of the SRP-LSH index against
    // the brute-force ground truth for the first 50 query vectors — the
    // dashboard number an ANN deployment watches before trusting the
    // approximate path at scale. Both sides are deterministic, so even
    // the QUALITY metric of an approximate index is oracle-hashed. The
    // ground-truth side broadcasts its (bounded) query slice; the hit
    // count is one left join on (qid, nid).
    "sim_ann_recall" -> QueryDef(
      (s, d) => {
        val prep = Similarity.prepared(
          Tables.embeddings(s, d), "vec_id", "embedding").cache()
        val brute = Similarity.topK(prep, prep.filter(col("id") < 50), 5)
          .select(col("qid"), col("nid"))
        val ann = Similarity.annLsh(
          Tables.embeddings(s, d), "vec_id", "embedding", 5, dim = 64)
          .filter(col("qid") < 50)
          .select(col("qid"), col("nid")).withColumn("_hit", lit(1))
        Materialize("similarity:sim_ann_recall:recall",
          brute.join(ann, Seq("qid", "nid"), "left")
            .groupBy("qid")
            .agg(sum(coalesce(col("_hit"), lit(0))).cast("long").as("hits"),
              count(lit(1)).as("k"))
            .select(col("qid"), col("hits"),
              (col("hits").cast("double") / col("k").cast("double"))
                .as("recall"))
            .orderBy("qid"), prep)
      },
      Some(annRecallSql(5, 50, 32, 4)),
      doc = "ANN index quality: recall@5 of SRP-LSH vs brute-force " +
        "ground truth for 50 queries, oracle-hashed end to end"),

    // SRP-blocked near-dup gate: banded candidates, exact rescoring at
    // cosine >= 0.4 — the scalable (recall < 1 by design) counterpart of
    // the exact sim_cosine_neardup; never all pairs.
    "sim_neardup_blocked" -> QueryDef(
      (s, d) =>
        Similarity.nearDupPairsBlocked(
          Tables.embeddings(s, d), "vec_id", "embedding", 0.4, dim = 64)
          .orderBy("i", "j"),
      Some(neardupBlockedOracleSql(0.4, 32, 4)),
      doc = "SRP-banded near-dup pairs (32 bits, 4x8-bit bands) + exact " +
        "rescoring at cosine >= 0.4 — the 100 TB near-dup gate"),

    // The embedding-modality dedup pass: SRP-blocked near-dup pairs →
    // connected components → one canonical vector per cluster. Same
    // components operator as the text path (dd_survivors) — pair
    // sources compose.
    "sim_neardup_survivors" -> QueryDef(
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        val pairs = Similarity.nearDupPairsBlocked(
          embs, "vec_id", "embedding", 0.4, dim = 64).select("i", "j")
        graft.operators.Dedup.components(
          embs.select(col("vec_id").as("id")), pairs,
          pairsContained = true)
          .groupBy(col("label").as("vec_id"))
          .agg(count(lit(1)).as("cluster_size"))
          .orderBy("vec_id")
      },
      Some(neardupSurvivorsSql(0.4, 32, 4)),
      doc = "embedding dedup pass: SRP-blocked cosine pairs -> connected " +
        "components -> canonical vector per cluster"),

    // IVF ANN: 16-cell coarse quantizer refined with 2 exact-integer
    // Lloyd iterations, probe 4 cells, top-5 — integer centroids keep
    // the whole refined index replayable by the oracle.
    "sim_ivf_topk" -> QueryDef(
      (s, d) =>
        Similarity.ivfTopK(
          Tables.embeddings(s, d), "vec_id", "embedding", 5,
          queryLimit = 10L, nList = 16, nProbe = 4, refineIters = 2)
          .orderBy("qid", "rank"),
      Some(ivfOracleSql(5, 10, 16, 4, 2)),
      doc = "IVF ANN: 16-cell coarse quantizer + 2 Lloyd iterations " +
        "(exact trunc-div integer centroids), 4-cell probe, exact " +
        "cosine rescoring"),

    // sim_ivf_topk's steady-state form: the coarse quantizer is a
    // PERSISTED trained artifact (Models.ivfCentroids — Lloyd runs once
    // per corpus, every later query loads the nList-row table), so the
    // per-query work is probe + rescore only. Identical result
    // contract, identical oracle (which re-derives the quantizer in
    // SQL — the hash match proves reload == retrain).
    "sim_ivf_indexed" -> QueryDef(
      (s, d) => {
        val cents = graft.sources.Models.ivfCentroids(s, d, 16, 2)
        val prep = Similarity.prepared(
          Tables.embeddings(s, d), "vec_id", "embedding").cache()
        Materialize("similarity:sim_ivf_indexed:rank",
          Similarity.ivfTopKPlan(prep, cents, 5, queryLimit = 10L,
            nProbe = 4), prep)
          .orderBy("qid", "rank")
      },
      Some(ivfOracleSql(5, 10, 16, 4, 2)),
      doc = "IVF ANN against the PERSISTED coarse quantizer (trained " +
        "once per corpus): per-query cost is probe + exact rescore, " +
        "no Lloyd pass"),

    // Product quantization + ADC (Jégou et al. 2011): 8 subspaces × 16
    // sample-codebook entries (4 bytes/vector vs 256 of float32 — the
    // ~64× memory-compression path), asymmetric-distance scoring from
    // broadcast per-query LUTs over the codes table, top-5 per query.
    // Exact int64 end to end — encoding, LUTs, and the summed ad2 all
    // hash-match the oracle with no float handling at all.
    "sim_pq_adc" -> QueryDef(
      (s, d) =>
        Similarity.pqTopK(Tables.embeddings(s, d), "vec_id", "embedding",
          5, queryLimit = 10L)
          .orderBy("qid", "rank"),
      Some(
        """WITH q AS (
          |  SELECT vec_id,
          |         [CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT) for x in embedding] AS qv
          |  FROM embeddings),
          |d AS (
          |  SELECT s.vec_id, t.m, c.vec_id AS c,
          |    CAST(list_sum([
          |      (s.qv[CAST(t.m*8+k AS INT)] - c.qv[CAST(t.m*8+k AS INT)])
          |      * (s.qv[CAST(t.m*8+k AS INT)] - c.qv[CAST(t.m*8+k AS INT)])
          |      for k in range(1,9)]) AS BIGINT) AS d2
          |  FROM q s, unnest(range(0, 8)) AS t(m),
          |       (SELECT vec_id, qv FROM q WHERE vec_id < 16) c),
          |code AS (
          |  SELECT vec_id, m, c FROM (
          |    SELECT vec_id, m, c,
          |           row_number() OVER (PARTITION BY vec_id, m
          |                              ORDER BY d2, c) AS rn
          |    FROM d) WHERE rn = 1),
          |adc AS (
          |  SELECT qd.vec_id AS qid, cd.vec_id AS nid,
          |         CAST(sum(qd.d2) AS BIGINT) AS ad2
          |  FROM code cd JOIN d qd ON qd.m = cd.m AND qd.c = cd.c
          |  WHERE qd.vec_id < 10 AND qd.vec_id <> cd.vec_id
          |  GROUP BY 1, 2)
          |SELECT qid, nid, ad2, CAST(rank AS INT) AS rank FROM (
          |  SELECT qid, nid, ad2,
          |         row_number() OVER (PARTITION BY qid
          |                            ORDER BY ad2, nid) AS rank
          |  FROM adc) WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),
      doc = "PQ/ADC ANN: 8x16 sample codebook, 4-bit codes, broadcast " +
        "query LUTs, exact-int asymmetric distances"),

    // Scalar quantization (SQ8): byte-per-dimension codes against
    // per-dim corpus (lo, hi) bounds — the OTHER mainstream compressed
    // index (Faiss ScalarQuantizer). The 255-scaled reconstruction
    // keeps asymmetric distances exact int64, so the compressed index
    // hash-matches the oracle like PQ does; the whole model is 2 ints
    // per dimension broadcast as one row.
    "sim_sq8" -> QueryDef(
      (s, d) =>
        Similarity.sqTopK(Tables.embeddings(s, d), "vec_id", "embedding",
          5, queryLimit = 10L)
          .orderBy("qid", "rank"),
      Some(
        """WITH q AS (
          |  SELECT vec_id,
          |         [CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT) for x in embedding] AS qv
          |  FROM embeddings),
          |rng AS (
          |  SELECT i AS pos, min(qv[CAST(i AS INT)]) AS lo,
          |         max(qv[CAST(i AS INT)]) AS hi
          |  FROM q, unnest(range(1, 65)) AS t(i) GROUP BY 1),
          |recon AS (
          |  SELECT vec_id, pos,
          |         CASE WHEN hi > lo
          |           THEN lo*255 + ((qv[CAST(pos AS INT)] - lo) * 255
          |                          // (hi - lo)) * (hi - lo)
          |           ELSE lo*255 END AS rec
          |  FROM q, rng),
          |sc AS (
          |  SELECT qq.vec_id AS qid, r.vec_id AS nid,
          |         CAST(sum((qq.qv[CAST(r.pos AS INT)]*255 - r.rec)
          |                  * (qq.qv[CAST(r.pos AS INT)]*255 - r.rec))
          |           AS BIGINT) AS ad2
          |  FROM recon r,
          |       (SELECT vec_id, qv FROM q WHERE vec_id < 10) qq
          |  WHERE qq.vec_id <> r.vec_id
          |  GROUP BY 1, 2)
          |SELECT qid, nid, ad2, CAST(rank AS INT) AS rank FROM (
          |  SELECT qid, nid, ad2,
          |         row_number() OVER (PARTITION BY qid
          |                            ORDER BY ad2, nid) AS rank
          |  FROM sc) WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),
      doc = "SQ8 scalar-quantization ANN: byte codes vs per-dim corpus " +
        "bounds, 255-scaled exact-int asymmetric distances"),

    // SemDedup (Abbas et al. 2023): IVF-cluster the embeddings, then
    // inside each cell drop every vector with a lower-id neighbor at
    // cosine >= 0.4 (the same gate the pairwise near-dup queries use;
    // on this corpus it prunes ~3-10% — 0.3 would amputate two thirds).
    // Pairwise work never crosses cells, and the within-cell
    // enumeration is skew-guarded — the semantic-dedup pass a 100 TB
    // training pipeline runs after exact + near-dup text dedup.
    "dd_semdedup" -> QueryDef(
      (s, d) =>
        Similarity.semDedup(
          Tables.embeddings(s, d), "vec_id", "embedding", 0.4,
          nList = 16, refineIters = 2)
          .orderBy("vec_id"),
      Some(semDedupOracleSql(0.4, 16, 2)),
      doc = "SemDedup semantic dedup: IVF cells (16, 2 Lloyd iters) + " +
        "within-cell lower-id drop at cosine >= 0.4"),

    // dd_semdedup's steady-state form: the quantizer is the PERSISTED
    // centroid table (Models.ivfCentroids — shared with
    // sim_ivf_indexed: one trained artifact serves both the ANN and
    // the dedup pipelines, as in a real embedding platform). Identical
    // result, identical oracle.
    "dd_semdedup_indexed" -> QueryDef(
      (s, d) => {
        val cents = graft.sources.Models.ivfCentroids(s, d, 16, 2)
        val prep = Similarity.prepared(
          Tables.embeddings(s, d), "vec_id", "embedding").cache()
        try Similarity.semDedupWith(prep, cents, 0.4).orderBy("vec_id")
        finally prep.unpersist()
      },
      Some(semDedupOracleSql(0.4, 16, 2)),
      doc = "SemDedup against the PERSISTED quantizer (shared with " +
        "sim_ivf_indexed): per-run cost is assignment + within-cell " +
        "drop, no Lloyd pass"),

    // The same two pipelines at SemDedup-realistic nList (1024 — wider
    // than sqrt(n) at sf0.1's 2000 vectors; at sf0.01 the 500-vector
    // corpus caps the seed sample at 500 cells, the honest degenerate
    // case). These exist BECAUSE the round-7 weak mark was "fine at
    // nList=16, dies at sqrt(n)": the broadcast-centroid form must stay
    // oracle-green, not merely plannable, when nList is 64x wider.
    "sim_ivf_wide" -> QueryDef(
      (s, d) =>
        Similarity.ivfTopK(
          Tables.embeddings(s, d), "vec_id", "embedding", 5,
          queryLimit = 10L, nList = 1024, nProbe = 4, refineIters = 1)
          .orderBy("qid", "rank"),
      Some(ivfOracleSql(5, 10, 1024, 4, 1)),
      doc = "IVF ANN at wide nList (1024 cells, 1 Lloyd iter): the " +
        "broadcast-centroid scale path oracle-checked at sqrt(n)-class " +
        "cell counts"),

    "dd_semdedup_wide" -> QueryDef(
      (s, d) =>
        Similarity.semDedup(
          Tables.embeddings(s, d), "vec_id", "embedding", 0.4,
          nList = 1024, refineIters = 1)
          .orderBy("vec_id"),
      Some(semDedupOracleSql(0.4, 1024, 1)),
      doc = "SemDedup at wide nList (1024 cells, 1 Lloyd iter): " +
        "within-cell drop rule at sqrt(n)-class cell counts"),

    // IVF index health: per-cell member count + mean squared distance to
    // the centroid (milli) — the audit that tells you whether the coarse
    // quantizer is balanced (skewed cells = hot probe partitions) and
    // tight (high msd = recall loss) BEFORE a recall regression shows up
    // in production. Same refined centroids as sim_ivf_topk; one
    // broadcast join + one map-side-combined aggregate past the
    // assignment pass, and the only double is the final milli rendering.
    "sim_ivf_stats" -> QueryDef(
      (s, d) => {
        val prep = Similarity.prepared(
          Tables.embeddings(s, d), "vec_id", "embedding")
        val cents = Similarity.refinedCentroids(prep, 16, 2)
        Similarity.withNearestCell(prep, cents)
          .join(broadcast(cents), "cid")
          .withColumn("d2", col("n2") + col("cn2") -
            lit(2) * Similarity.idot(col("qv"), col("cv")))
          .groupBy("cid")
          .agg(count(lit(1)).as("n_members"), sum("d2").as("_sd"))
          .select(col("cid"), col("n_members"),
            round(col("_sd").cast("double") * 1000 / col("n_members"))
              .cast("long").as("msd_milli"))
          .orderBy("cid")
      },
      Some(ivfStatsSql(16, 2)),
      doc = "IVF index health: per-cell member count + mean squared " +
        "centroid distance (milli) over the sim_ivf_topk quantizer"),

    // IVF-PQ (Jégou et al. 2011 §IV — the FAISS IVFPQ shape production
    // vector search deploys): coarse cells route vectors, PQ encodes
    // the residual x − centroid, queries probe nProbe cells and score
    // codes via per-cell residual ADC LUTs. Exact int64 end to end —
    // the oracle replays the Lloyd-refined quantizer, every residual,
    // every code assignment, and every asymmetric distance.
    "sim_ivfpq" -> QueryDef(
      (s, d) =>
        Similarity.ivfPqTopK(Tables.embeddings(s, d), "vec_id", "embedding",
          k = 5, queryLimit = 10L)
          .orderBy("qid", "rank"),
      Some(ivfPqOracleSql(k = 5, queryLimit = 10, nList = 16, nProbe = 4,
        iters = 2, m = 8, ksub = 16)),
      doc = "IVF-PQ ANN: Lloyd-refined coarse cells + residual product " +
        "quantization + per-cell ADC — the production index, exact-int " +
        "replayed"),

    // The steady-state IVF-PQ: quantizer, residual codebook, and the
    // cid-bucketed codes table are PERSISTED artifacts
    // (Models.ivfPqIndex — the quantizer is the same stored artifact
    // sim_ivf_indexed uses); the query is probe + LUT + ADC shortlist
    // + exact rerank over the stored index, at the SERVABLE operating
    // point the sim_ivfpq_sweep study selected: nProbe=8, 8-bit codes
    // (ksub=256), rerank=50 — 0.92 recall@5 where the old pure-ADC
    // (nProbe=4, ksub=16) default measured 0.26. Same retraining
    // oracle discipline as sim_ivfpq — the hash match proves reload ==
    // retrain for all three artifacts at once.
    "sim_ivfpq_indexed" -> QueryDef(
      (s, d) => {
        val prep = Similarity.prepared(
          Tables.embeddings(s, d), "vec_id", "embedding")
          .filter(size(col("qv")) === 64).cache()
        val (cents, cbRows, codes) = graft.sources.Models.ivfPqIndex(s, d)
        Materialize("similarity:sim_ivfpq_indexed:score",
          Similarity.ivfPqScorePlan(prep, cents, cbRows, codes,
            k = 5, queryLimit = 10L, nProbe = 8, m = 8, dim = 64,
            rerank = 50), prep)
          .orderBy("qid", "rank")
      },
      Some(ivfPqRefinedOracleSql(k = 5, queryLimit = 10, nList = 16,
        nProbe = 8, iters = 2, m = 8, ksub = 256, rerank = 50)),
      doc = "steady-state IVF-PQ at the sweep-selected servable point " +
        "(nProbe=8, 8-bit codes, rerank=50 — 0.92 recall@5): persisted " +
        "quantizer + codebook + cid-bucketed codes — oracle retrains"),

    // The production index's QUALITY metric as a deterministic
    // artifact: recall@5 of the persisted IVF-PQ index against
    // exact-L2 brute-force ground truth, per query — the audit a
    // serving pipeline runs before flipping traffic to a rebuilt
    // index (the SRP path has sim_ann_recall; this closes the loop
    // for the compressed index). Both the approximate answer and the
    // ground truth are exact-int, so the recall itself hash-matches.
    "sim_ivfpq_recall" -> QueryDef(
      (s, d) => {
        val prep = Similarity.prepared(
          Tables.embeddings(s, d), "vec_id", "embedding")
          .filter(size(col("qv")) === 64).cache()
        val gtTop = Materialize("similarity:sim_ivfpq_recall:ground_truth",
          Similarity.exactL2TopK(prep, 5, 10L))
        val (cents, cbRows, codes) = graft.sources.Models.ivfPqIndex(s, d)
        val approx = Materialize("similarity:sim_ivfpq_recall:score",
          Similarity.ivfPqScorePlan(prep, cents, cbRows, codes,
            k = 5, queryLimit = 10L, nProbe = 8, m = 8, dim = 64,
            rerank = 50), prep)
        recallAt5(approx, gtTop)
      },
      Some(ivfPqRefinedCtes(queryLimit = 10, nList = 16, nProbe = 8,
        iters = 2, m = 8, ksub = 256, rerank = 50) + recallAt5Sql("rr")),
      doc = "IVF-PQ recall@5 audit vs exact-L2 brute force at the " +
        "servable default (nProbe=8, 8-bit codes, rerank=50) — the " +
        "compressed index's quality metric, itself hash-deterministic"),

    // The ANN side of the daily ingest loop (the IVF-PQ twin of
    // dd_incremental): the md5-split "old" corpus trains quantizer +
    // residual codebook, the "new" batch is encoded against the FROZEN
    // model (training never reruns — old and new codes stay comparable
    // under one set of ADC LUTs), and the result is the post-append
    // per-cell drift audit: index/appended/total member counts plus
    // the appended rows' summed code positions, so the oracle pins the
    // encode step itself, not just the routing. The persisted-index
    // mutation path (Models.ivfPqIndexAppend — append preserving the
    // cid bucket spec + the same drift guard) is exercised in
    // ModelsSpec's daily-loop test.
    "sim_ivfpq_append" -> QueryDef(
      (s, d) => {
        val h = md5(encode(col("vec_id").cast("string"), "UTF-8"))
        val embs = Tables.embeddings(s, d)
        val old = Similarity.prepared(embs.filter(h < "cc"),
          "vec_id", "embedding").filter(size(col("qv")) === 64).cache()
        val batch = Similarity.prepared(embs.filter(h >= "cc"),
          "vec_id", "embedding").filter(size(col("qv")) === 64)
        val cents = Materialize("similarity:sim_ivfpq_append:centroids",
          Similarity.refinedCentroids(old, 16, 2))
        val resOld = Materialize("similarity:sim_ivfpq_append:residuals",
          Similarity.ivfPqResiduals(old, cents))
        val cbRows = resOld.filter(col("id") < 256)
          .select(col("id").as("cid"), col("rv").as("cv"))
        val codesOld = Similarity.ivfPqCodes(resOld, cbRows, 8, 256, 64)
        // encode once: stats + code sum read it
        val codesNew = Materialize("similarity:sim_ivfpq_append:encode",
          Similarity.ivfPqCodes(
            Similarity.ivfPqResiduals(batch, cents), cbRows, 8, 256, 64))
        val newSum = codesNew.groupBy("cid")
          .agg(sum(aggregate(col("codes"), lit(0L), (a, x) => a + x))
            .as("new_code_sum"))
        Materialize("similarity:sim_ivfpq_append:stats",
          Similarity.ivfPqAppendStats(codesOld, codesNew)
            .join(newSum, Seq("cid"), "left")
            .select(col("cid"), col("n_index"), col("n_appended"),
              col("n_total"),
              coalesce(col("new_code_sum"), lit(0L)).as("new_code_sum"))
            .orderBy("cid"), old)
      },
      Some(ivfPqAppendSql(nList = 16, iters = 2, m = 8, ksub = 256)),
      doc = "daily IVF-PQ append fold: batch encoded against the FROZEN " +
        "quantizer/codebook + per-cell drift audit — oracle replays the " +
        "frozen-model encode"),

    // The drift REPAIR under the oracle gate — the third leg of the
    // IVF-PQ lifecycle (train: sim_ivfpq_indexed, fold:
    // sim_ivfpq_append, repair: here, closing the loop the append's
    // drift guard opens with "rebuild the quantizer"): base artifacts
    // train on the md5 < cc slice in a run-private dir, the >= cc
    // batch folds in through Models.ivfPqIndexAppend (encoded against
    // the FROZEN base model — the state a drifted index is in), then
    // Models.ivfPqRebuild retrains quantizer + codebook + codes from
    // the union corpus with a staged atomic-rename cutover, and
    // serving runs from the REBUILT artifacts at the servable point.
    // Training is a deterministic function of the corpus, so
    // rebuild-on-union == retrain-on-full-corpus and the oracle is
    // exactly sim_ivfpq_indexed's full retrain — the hash match proves
    // the swap really replaced every family (stale codes scored under
    // the new quantizer's LUTs would mis-rank and fail the gate).
    "sim_ivfpq_rebuild" -> QueryDef(
      (s, d) => {
        val tmp = SourceQueries.tempDir("graft_ivfpq_rebuild")
        val embs = Tables.embeddings(s, d)
        val h = md5(encode(col("vec_id").cast("string"), "UTF-8"))
        // base + one fold build the STALE pre-rebuild state (a
        // genuinely folded frozen-model index whose codes the swap
        // must replace — served stale they'd mis-rank and fail the
        // gate); sixth-sized slices suffice for that and keep the
        // scene-setting share of the oracle tax small. The stale
        // state is deterministic (frozen-model encode of fixed
        // slices), so it comes from the MEMOIZED scene — built once,
        // file-copied per run. The rebuild itself always pays the
        // full-corpus retrain.
        graft.sources.Scenes.cloneScene(s, d, "ivfpq_stale", tmp,
          params = "base<2a,fold<55,n16,i2,m8,ksub256,dim64") { c =>
          embs.filter(h < "2a").write.mode("overwrite")
            .parquet(s"$c/embeddings.parquet")
          graft.sources.Models.ivfPqIndex(s, c)
          graft.sources.Models.ivfPqIndexAppend(s, c,
            embs.filter(h >= "2a" && h < "55")
              .select("vec_id", "embedding"),
            "vec_id", "embedding")
          ()
        }
        val (cents, cbRows, codes) = graft.sources.Models
          .ivfPqRebuild(s, tmp, embs, "vec_id", "embedding")
        // cached: the query/LUT/rerank sides all re-read it
        val prep = Similarity.prepared(embs, "vec_id", "embedding")
          .filter(size(col("qv")) === 64).cache()
        // materialized before the drop: the plan reads the rebuilt
        // artifacts under tmp
        Materialize.releasing("similarity:sim_ivfpq_rebuild:score",
          Similarity.ivfPqScorePlan(prep, cents, cbRows, codes,
            k = 5, queryLimit = 10L, nProbe = 8, m = 8, dim = 64,
            rerank = 50)) {
          prep.unpersist()
          graft.sources.Models.drop(s, tmp)
        }.orderBy("qid", "rank")
      },
      Some(ivfPqRefinedOracleSql(k = 5, queryLimit = 10, nList = 16,
        nProbe = 8, iters = 2, m = 8, ksub = 256, rerank = 50)),
      doc = "IVF-PQ drift repair: fold a batch into a frozen base " +
        "model, then ivfPqRebuild retrains all three artifact families " +
        "from the union corpus (staged cutover) and serving reads the " +
        "rebuilt index — oracle is the full retrain, proving rebuild " +
        "== retrain at the hash gate"),

    // The operating-point sweep behind the servable default: recall@5
    // vs exact-L2 ground truth for nProbe ∈ {4,8,16} × ksub ∈ {16,256}
    // (4-bit vs 8-bit residual codes) × rerank ∈ {0,50} over the SAME
    // trained quantizer — the parameter study that justified raising
    // the persisted index's default from (nProbe=4, ksub=16, no
    // rerank) ≈ 0.26 recall@5 to the 0.92 shipping point. The study
    // audits the PERSISTED artifacts (Models.ivfPqIndex at both
    // codebook widths — the ksub path is part of the artifact key, so
    // the counterfactual width is just a second stored index), each
    // scored once ([[ivfPqSweep]]). The oracle replays the whole
    // pipeline INCLUDING training from scratch — the hash match is
    // simultaneously the recall study and a reload==retrain proof
    // across every cell.
    "sim_ivfpq_sweep" -> QueryDef(
      (s, d) => ivfPqSweep(Tables.embeddings(s, d),
        Seq(16, 256).map(ks =>
          ks -> graft.sources.Models.ivfPqIndex(s, d, ksub = ks)),
        k = 5, queryLimit = 10L, nProbes = Seq(4, 8, 16),
        reranks = Seq(0, 50), m = 8, dim = 64),
      Some(ivfPqSweepSql(k = 5, queryLimit = 10, nList = 16, iters = 2,
        m = 8, nProbes = Seq(4, 8, 16), ksubs = Seq(16, 256),
        reranks = Seq(0, 50))),
      doc = "IVF-PQ operating-point sweep: recall@5 per (nProbe x ksub " +
        "x rerank) config over the PERSISTED index artifacts — the " +
        "study that picks the servable default; oracle retrains from " +
        "scratch, so each cell doubles as a reload==retrain proof"),

    // Johnson-Lindenstrauss retrieval: dense integer random projection
    // to 32 coordinates (the SRP planes WITHOUT sign quantization —
    // 256 B/vector, half the quantized vectors), reduced-space
    // scan -> top-150 shortlist -> exact full-dimension rerank, the
    // operating point a (16,24,32)x(50,100,150) study put at 0.90
    // recall@5 (16x50 measured 0.36 — reduced-space distortion on a
    // near-random corpus needs either width or shortlist depth). The
    // fourth compressed-index family, bracketing the design space with
    // PQ (subspace codebooks), SQ8 (per-dim bytes), and SRP-LSH (sign
    // bits); sign-explicit shifted projections keep every coordinate
    // exact int64, so the whole path hash-matches the replay.
    "sim_rp_topk" -> QueryDef(
      (s, d) =>
        Similarity.rpTopK(Tables.embeddings(s, d), "vec_id", "embedding",
          k = 5, queryLimit = 10L)
          .orderBy("qid", "rank"),
      Some(rpCtes(queryLimit = 10, kDim = 32, rerank = 150, seed = 11L) +
        """
          |SELECT qid, nid, d2, CAST(rank AS INT) AS rank FROM (
          |  SELECT qid, nid, d2,
          |         row_number() OVER (PARTITION BY qid
          |                            ORDER BY d2, nid) AS rank
          |  FROM ex) WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),
      doc = "Johnson-Lindenstrauss ANN: 32-coordinate integer random " +
        "projection scan + exact rerank of the top-150 shortlist " +
        "(0.90 recall@5)"),

    // The RP index's quality audit, same discipline as the other
    // families: recall@5 vs exact-L2 ground truth, per query,
    // hash-deterministic end to end.
    "sim_rp_recall" -> QueryDef(
      (s, d) => {
        val prep = Similarity.prepared(
          Tables.embeddings(s, d), "vec_id", "embedding")
          .filter(size(col("qv")) === 64).cache()
        val gtTop = Materialize("similarity:sim_rp_recall:ground_truth",
          Similarity.exactL2TopK(prep, 5, 10L), prep)
        val approx = Similarity.rpTopK(Tables.embeddings(s, d), "vec_id",
          "embedding", k = 5, queryLimit = 10L)
        recallAt5(approx, gtTop)
      },
      Some(rpCtes(queryLimit = 10, kDim = 32, rerank = 150, seed = 11L) +
        recallAt5Sql("ex")),
      doc = "RP index quality: recall@5 vs exact-L2 ground truth — the " +
        "JL family's hash-deterministic audit"),

    // MMR diversification (Carbonell & Goldstein 1998): the standard
    // two-stage serving shape — top-20 pool by exact inner product,
    // then greedy maximal-marginal-relevance selection of 5 at λ=1/2
    // (pick = argmax relevance − max-dot-to-already-picked, ties to
    // the smaller id). The greedy loop runs as ONE native expression
    // over the collected pool per query; the oracle unrolls all five
    // steps, so every selection decision is hash-pinned.
    "sim_mmr" -> QueryDef(
      (s, d) =>
        Similarity.mmrTopK(Tables.embeddings(s, d), "vec_id", "embedding",
          k = 5, poolN = 20, queryLimit = 10L)
          .orderBy("qid", "rank"),
      Some(mmrOracleSql(k = 5, poolN = 20, queryLimit = 10)),
      doc = "MMR diversified retrieval: top-20 exact pool, greedy " +
        "relevance-minus-redundancy selection, oracle replays each step"),

    // The two-stage SERVING composition the sim_mmr scaladoc promises
    // ("the first-stage retriever can swap to any ANN path"), made
    // executable: candidate pool = the PERSISTED IVF-PQ index's
    // refined top-20 (probe + ADC shortlist + exact rerank, the
    // sim_ivfpq_indexed serving path at k=20), then the identical
    // greedy MMR diversifier over that pool. The oracle prepends the
    // full from-scratch IVF-PQ replay to the SAME unrolled MMR steps
    // the exact-pool query uses — one spelling of the selection loop,
    // two retrievers.
    "sim_mmr_ivfpq" -> QueryDef(
      (s, d) => {
        val prep = Similarity.prepared(
          Tables.embeddings(s, d), "vec_id", "embedding")
          .filter(size(col("qv")) === 64).cache()
        val (cents, cbRows, codes) = graft.sources.Models.ivfPqIndex(s, d)
        val shortlist = Similarity.ivfPqScorePlan(prep, cents, cbRows,
          codes, k = 20, queryLimit = 10L, nProbe = 8, m = 8, dim = 64,
          rerank = 50).select("qid", "nid")
        val pool = shortlist
          .join(prep.select(col("id").as("qid"), col("qv").as("qqv")),
            "qid")
          .join(prep.select(col("id").as("nid"), col("qv")), "nid")
          .select(col("qid"), col("nid"), col("qv"),
            Similarity.idot(col("qqv"), col("qv")).as("qdot"))
          .groupBy("qid")
          .agg(collect_list(struct(col("nid"), col("qdot"), col("qv")))
            .as("cands"))
        Materialize("similarity:sim_mmr_ivfpq:select", pool
          .select(col("qid"), explode(
            GraftFunctions.mmrSelect(col("cands"), 5)).as("m"))
          .select(col("qid"), col("m.nid").as("nid"),
            col("m.rank").as("rank"))
          .orderBy("qid", "rank"), prep)
      },
      Some(ivfPqRefinedCtes(queryLimit = 10, nList = 16, nProbe = 8,
        iters = 2, m = 8, ksub = 256, rerank = 50) +
        s""",
           |short20 AS (
           |  SELECT qid, nid FROM (
           |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
           |                                        ORDER BY d2, nid) AS rank
           |    FROM rr) WHERE rank <= 20),
           |pool AS MATERIALIZED (
           |  SELECT s.qid, s.nid, b.qv,
           |         CAST(list_sum([a.qv[i]*b.qv[i] for i in range(1,65)])
           |           AS BIGINT) AS qdot
           |  FROM short20 s JOIN p a ON a.vec_id = s.qid
           |       JOIN p b ON b.vec_id = s.nid)""".stripMargin +
        mmrStepsSql(5)),
      doc = "two-stage serving composition: persisted IVF-PQ refined " +
        "top-20 shortlist -> greedy MMR diversification; one MMR oracle " +
        "spelling shared with the exact-pool sim_mmr")
  )

  /** Unrolled DuckDB replay of [[Similarity.mmrTopK]]'s greedy loop:
    * pool + pairwise dots once, then per step `r` the argmax of
    * `qdot − max(dot to selected)` with ties to the smaller nid. SQL is
    * GENERATED from the same (k, poolN, queryLimit) the Spark side
    * uses. */
  private def mmrOracleSql(k: Int, poolN: Int, queryLimit: Int): String =
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id,
       |         [CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT) for x in embedding] AS qv
       |  FROM embeddings),
       |sc AS MATERIALIZED (
       |  SELECT a.vec_id AS qid, b.vec_id AS nid, b.qv AS qv,
       |         CAST(list_sum([a.qv[i]*b.qv[i] for i in range(1,65)]) AS BIGINT) AS qdot
       |  FROM (SELECT vec_id, qv FROM q WHERE vec_id < $queryLimit) a
       |  JOIN q b ON a.vec_id <> b.vec_id),
       |pool AS MATERIALIZED (
       |  SELECT qid, nid, qv, qdot FROM (
       |    SELECT qid, nid, qv, qdot,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY qdot DESC, nid) AS rn
       |    FROM sc) WHERE rn <= $poolN)""".stripMargin +
      mmrStepsSql(k)

  /** The greedy-selection CTE chain from `pd` onward — parameterized
    * only on a preceding `pool(qid, nid, qv, qdot)` CTE, so ANY
    * first-stage retriever (exact top-N, IVF-PQ shortlist, …) can
    * prepend its own pool and reuse the identical unrolled MMR
    * replay. */
  private def mmrStepsSql(k: Int): String = {
    val sb = new StringBuilder
    sb ++=
      s""",
         |pd AS MATERIALIZED (
         |  SELECT x.qid, x.nid AS i, y.nid AS j,
         |         CAST(list_sum([x.qv[m]*y.qv[m] for m in range(1,65)]) AS BIGINT) AS d
         |  FROM pool x JOIN pool y USING (qid) WHERE x.nid <> y.nid),
         |s1 AS MATERIALIZED (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
         |                                        ORDER BY qdot DESC, nid) AS rn
         |    FROM pool) WHERE rn = 1),
         |sel1 AS MATERIALIZED (SELECT qid, nid FROM s1)""".stripMargin
    for (r <- 2 to k) {
      sb ++=
        s""",
           |s$r AS MATERIALIZED (
           |  SELECT qid, nid FROM (
           |    SELECT p.qid, p.nid,
           |           row_number() OVER (PARTITION BY p.qid
           |                              ORDER BY p.qdot - m.ms DESC, p.nid)
           |             AS rn
           |    FROM pool p
           |    JOIN (SELECT pd.qid, pd.i AS nid, max(pd.d) AS ms
           |          FROM pd JOIN sel${r - 1} s
           |            ON s.qid = pd.qid AND s.nid = pd.j
           |          GROUP BY 1, 2) m
           |      ON m.qid = p.qid AND m.nid = p.nid
           |    WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} z
           |                      WHERE z.qid = p.qid AND z.nid = p.nid))
           |  WHERE rn = 1),
           |sel$r AS MATERIALIZED (
           |  SELECT qid, nid FROM sel${r - 1}
           |  UNION ALL SELECT qid, nid FROM s$r)""".stripMargin
    }
    sb ++= "\nSELECT qid, nid, CAST(rank AS INT) AS rank FROM (" +
      (1 to k).map(r =>
        s"SELECT qid, nid, $r AS rank FROM s$r").mkString("\n  UNION ALL ") +
      ") ORDER BY qid, rank"
    sb.toString
  }
}
