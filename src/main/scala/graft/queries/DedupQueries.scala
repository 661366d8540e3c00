package graft.queries

import org.apache.spark.sql.functions._

import graft.{Materialize, QueryDef, Tables}
import graft.operators.Dedup

/** Deduplication pipeline demos over `documents`. The approximate paths
  * (prefix-filtered Jaccard join, MinHash-LSH) end in exact
  * verification, so their DuckDB oracle is brute-force pairwise Jaccard
  * — the engines agree on the *result* while Spark's plan does a tiny
  * fraction of the pair comparisons. */
object DedupQueries {

  /** DuckDB CTEs: per-doc distinct 3-gram shingle lists. */
  private val shingleCtes =
    """toks AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id,
      |         list_distinct([w[i]||' '||w[i+1]||' '||w[i+2]
      |                        for i in range(1, len(w)-1)]) AS sg
      |  FROM toks
      |)""".stripMargin

  /** dd_cdc_cross parameters — ONE definition feeding both the Spark
    * call and the interpolated oracle, per the generated-from-the-
    * same-constants convention. */
  private val CdcCrossMinShared = 2
  private val CdcCrossMinLen = 24

  /** dd_containment threshold (tNum/tDen) — same one-definition
    * convention: interpolated into both the Spark call and the oracle,
    * so a changed default can never silently drift the two apart. */
  private val ContainTNum = 9
  private val ContainTDen = 10

  /** DuckDB CTEs replaying the CDC boundary scan (`t`/`b`/`bounds`/
    * `seg`) — ONE spelling of the window/divisor/bounds arithmetic,
    * shared by both CDC oracles so the boundary definition cannot
    * drift between them. */
  private val cdcSegCtes: String =
    s"""t AS (SELECT doc_id, source, text, length(text) AS n
       |      FROM documents),
       |b AS (SELECT doc_id, CAST(i AS BIGINT) AS pos
       |      FROM t, unnest(range(${Dedup.CdcWindow}, n + 1)) AS u(i)
       |      WHERE CAST(concat('0x', substr(md5(substr(text,
       |              CAST(i - ${Dedup.CdcWindow - 1} AS INT),
       |              ${Dedup.CdcWindow})), 1, 15)) AS BIGINT)
       |            % ${Dedup.CdcDivisor} = 0),
       |bounds AS (
       |  SELECT doc_id, pos FROM b
       |  UNION SELECT doc_id, CAST(0 AS BIGINT) FROM t WHERE n > 0
       |  UNION SELECT doc_id, CAST(n AS BIGINT) FROM t WHERE n > 0),
       |seg AS (SELECT doc_id,
       |               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |                 AS lo,
       |               pos AS hi
       |        FROM bounds)""".stripMargin

  /** Brute-force pairwise-Jaccard oracle at a given threshold (DuckDB
    * list_intersect over per-doc distinct 3-gram shingle lists). */
  private def pairwiseJaccardSql(threshold: String): String =
    s"""WITH $shingleCtes
       |SELECT a.doc_id AS i, b.doc_id AS j,
       |       CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) /
       |         (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))) AS jac
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) /
       |        (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg)))
       |      >= $threshold
       |ORDER BY i, j""".stripMargin

  /** Shared oracle for both incremental-dedup forms (from-scratch and
    * persisted-index): brute-force cross-split Jaccard at 0.8 over the
    * md5-split corpus — the two Spark plans differ only in WHERE the
    * index's bands come from, never in the result. */
  private val incrementalOracle =
    s"""WITH $shingleCtes,
       |sp AS (
       |  SELECT doc_id, sg,
       |         md5(CAST(doc_id AS VARCHAR)) >= 'cc' AS is_new
       |  FROM sh WHERE len(sg) > 0),
       |px AS (
       |  SELECT o.doc_id AS i, n.doc_id AS j,
       |         CAST(len(list_intersect(o.sg, n.sg)) AS DOUBLE) /
       |           (len(o.sg) + len(n.sg)
       |            - len(list_intersect(o.sg, n.sg))) AS jac
       |  FROM sp o JOIN sp n ON NOT o.is_new AND n.is_new
       |  WHERE CAST(len(list_intersect(o.sg, n.sg)) AS DOUBLE) /
       |          (len(o.sg) + len(n.sg)
       |           - len(list_intersect(o.sg, n.sg))) >= 0.8),
       |ag AS (
       |  SELECT j AS doc_id, CAST(count(*) AS BIGINT) AS n_dups,
       |         CAST(min(i) AS BIGINT) AS canon_id,
       |         max(jac) AS best_jac
       |  FROM px GROUP BY 1)
       |SELECT b.doc_id,
       |  coalesce(ag.n_dups, CAST(0 AS BIGINT)) AS n_dups,
       |  coalesce(ag.canon_id, CAST(-1 AS BIGINT)) AS canon_id,
       |  coalesce(ag.best_jac, 0.0) AS best_jac,
       |  CAST(CASE WHEN ag.n_dups IS NOT NULL THEN 1 ELSE 0 END
       |       AS BIGINT) AS is_dup
       |FROM (SELECT doc_id FROM documents
       |      WHERE md5(CAST(doc_id AS VARCHAR)) >= 'cc') b
       |LEFT JOIN ag USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  /** Near-dup cluster oracle: brute-force pairs at `threshold`, then the
    * transitive closure as a recursive CTE, labeled by component min. */
  /** Shared recursive-CTE prefix: brute-force Jaccard pairs → edges →
    * transitive closure (`reach`) — the oracle's independent route to
    * connected components. */
  private[queries] def clustersCtes(threshold: String): String =
    s"""WITH RECURSIVE $shingleCtes,
       |jpairs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) /
       |          (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg)))
       |        >= $threshold
       |),
       |edges AS (SELECT i, j FROM jpairs UNION ALL SELECT j AS i, i AS j FROM jpairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.i, reach.r FROM edges e JOIN reach ON reach.id = e.j
       |)""".stripMargin

  private def clustersSql(threshold: String): String =
    s"""${clustersCtes(threshold)}
       |SELECT id, CAST(min(r) AS BIGINT) AS label
       |FROM reach GROUP BY id ORDER BY id""".stripMargin

  /** [[clustersCtes]] restricted to a corpus predicate — the map-fold
    * gate (dd_map_append) replays the full retrain over exactly the
    * base∪folded slice. Same shingle/pair/reach spelling. */
  private def clustersWhereSql(threshold: String, pred: String): String =
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
       |  FROM documents WHERE $pred
       |), sh AS (
       |  SELECT doc_id,
       |         list_distinct([w[i]||' '||w[i+1]||' '||w[i+2]
       |                        for i in range(1, len(w)-1)]) AS sg
       |  FROM toks
       |),
       |jpairs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) /
       |          (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg)))
       |        >= $threshold
       |),
       |edges AS (SELECT i, j FROM jpairs UNION ALL SELECT j AS i, i AS j FROM jpairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents WHERE $pred
       |  UNION
       |  SELECT e.i, reach.r FROM edges e JOIN reach ON reach.id = e.j
       |)
       |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS label
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  private def survivorsSql(threshold: String): String =
    s"""${clustersCtes(threshold)},
       |labels AS (
       |  SELECT id, CAST(min(r) AS BIGINT) AS label FROM reach GROUP BY id
       |)
       |SELECT l.label AS doc_id, CAST(count(*) AS BIGINT) AS cluster_size,
       |       d.n_chars
       |FROM labels l JOIN documents d ON d.doc_id = l.label
       |GROUP BY l.label, d.n_chars
       |ORDER BY doc_id""".stripMargin

  /** DuckDB replay of [[Dedup.simhash]]/[[Dedup.simhashPairs]]: same
    * md5-derived 60-bit token hash, same per-bit ±1 sums, same 4×15-bit
    * banding — generated from the Dedup constants. */
  private def simhashOracleSql(maxDist: Int): String = {
    val bits = Dedup.SimHashBits
    val sums = (0 until bits)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n         ")
    val sig = (0 until bits)
      .map(j => s"(CASE WHEN b$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END)")
      .mkString(" + ")
    val bb = Dedup.SimHashBandBits
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS token
       |  FROM documents
       |), h AS (
       |  SELECT doc_id, CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) AS h
       |  FROM toks
       |), sums AS (
       |  SELECT doc_id, $sums
       |  FROM h GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM sums
       |), bnd AS (
       |  SELECT doc_id, simhash, bd,
       |         (simhash >> CAST(bd*$bb AS INT)) & ${Dedup.SimHashBandMask} AS key
       |  FROM sig, UNNEST(range(0, ${Dedup.SimHashBands})) AS t(bd)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j,
       |         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |  FROM bnd a JOIN bnd b
       |    ON a.bd = b.bd AND a.key = b.key AND a.doc_id < b.doc_id
       |)
       |SELECT i, j, hamming FROM cand WHERE hamming <= $maxDist
       |ORDER BY i, j""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(

    // Exact dedup over a doubled corpus (simulated re-ingest): groupBy
    // content fingerprint collapses each doc back to one row.
    "dd_exact" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.exact(docs.unionAll(docs), "doc_id", "text")
          .orderBy("canonical_id")
      },
      Some(
        """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
          |       min(doc_id) AS canonical_id, count(*) AS n_copies
          |FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
          |GROUP BY 1 ORDER BY canonical_id""".stripMargin),
      doc = "exact dedup: hash-groupBy on normalized-content fingerprint"),

    // Corpus-level exact line dedup (the RefinedWeb/CCNet pass that
    // strips crawl boilerplate): a trimmed non-blank line survives only
    // in the first (doc_id, idx) that contains it. The oracle finds
    // first occurrences with a window; the Spark side uses the
    // scale-safe spelling — map-side-combined min per fingerprint plus
    // a salted occurrence join (hot lines never own a reducer).
    "dd_line_dedup" -> QueryDef(
      (s, d) => Dedup.lineDedup(Tables.documents(s, d), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some(
        """WITH raw AS (
          |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
          |ix AS (
          |  SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS i FROM raw),
          |l AS (
          |  SELECT doc_id, i - 1 AS idx, trim(ls[i]) AS ln
          |  FROM ix WHERE trim(ls[i]) <> ''),
          |k AS (
          |  SELECT doc_id, idx, ln,
          |         row_number() OVER (PARTITION BY ln ORDER BY doc_id, idx) AS rn
          |  FROM l),
          |st AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
          |         CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
          |         md5(coalesce(string_agg(ln, chr(10) ORDER BY idx)
          |                        FILTER (WHERE rn = 1), '')) AS kept_md5
          |  FROM k GROUP BY doc_id)
          |SELECT d.doc_id, coalesce(n_lines, CAST(0 AS BIGINT)) AS n_lines,
          |       coalesce(n_kept, CAST(0 AS BIGINT)) AS n_kept,
          |       coalesce(kept_md5, md5('')) AS kept_md5
          |FROM documents d LEFT JOIN st USING (doc_id)
          |ORDER BY doc_id""".stripMargin),
      doc = "corpus-level exact line dedup (RefinedWeb-style): non-blank " +
        "line survives only at its first (doc_id, idx); per-doc kept " +
        "reconstruction verified by md5"),

    // Repeated-substring detection at 5-token granularity (Lee et al.
    // 2022 ExactSubstr target): a position is duplicated when its
    // 5-token window repeats anywhere in the corpus. Oracle counts
    // occurrences with a window function; the Spark side is the
    // scale-safe spelling — map-side-combined count per window hash +
    // salted position join (repeated boilerplate windows are the
    // hottest keys by construction), per-doc run-length islands.
    "dd_substring_dups" -> QueryDef(
      (s, d) => Dedup.substringDups(Tables.documents(s, d), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some(
        """WITH t AS (
          |  SELECT doc_id,
          |         string_split_regex(trim(lower(text)), '\s+') AS toks
          |  FROM documents),
          |w AS (
          |  SELECT doc_id, i - 1 AS pos,
          |         CAST(concat('0x', substr(md5(
          |           array_to_string(toks[i:i+4], ' ')), 1, 15)) AS BIGINT)
          |           AS wh
          |  FROM t, unnest(range(1, len(toks) - 3)) AS u(i)
          |  WHERE len(toks) >= 5),
          |c AS (SELECT wh, count(*) AS cnt FROM w GROUP BY wh),
          |dup AS (
          |  SELECT doc_id, pos FROM w JOIN c USING (wh) WHERE cnt >= 2),
          |runs AS (
          |  SELECT doc_id,
          |         pos - row_number() OVER (PARTITION BY doc_id
          |                                  ORDER BY pos) AS grp
          |  FROM dup),
          |lr AS (
          |  SELECT doc_id, CAST(max(c) AS BIGINT) AS longest_run FROM (
          |    SELECT doc_id, grp, count(*) AS c FROM runs GROUP BY 1, 2)
          |  GROUP BY doc_id),
          |nw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows
          |       FROM w GROUP BY doc_id),
          |nd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
          |       FROM dup GROUP BY doc_id)
          |SELECT d.doc_id,
          |  coalesce(n_windows, CAST(0 AS BIGINT)) AS n_windows,
          |  coalesce(n_dup, CAST(0 AS BIGINT)) AS n_dup,
          |  coalesce(longest_run, CAST(0 AS BIGINT)) AS longest_run,
          |  CASE WHEN n_windows IS NOT NULL THEN
          |    CAST(coalesce(n_dup, CAST(0 AS BIGINT)) AS DOUBLE)
          |      / CAST(n_windows AS DOUBLE)
          |  ELSE 0.0 END AS dup_ratio
          |FROM documents d
          |LEFT JOIN nw USING (doc_id)
          |LEFT JOIN nd USING (doc_id)
          |LEFT JOIN lr USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin),
      doc = "repeated-substring detection (ExactSubstr granularity): " +
        "5-token windows occurring >= 2x corpus-wide, per-doc dup " +
        "positions + longest consecutive run"),

    // Prefix-filtered similarity join == brute-force pairwise >= 0.5.
    "dd_jaccard_pairs" -> QueryDef(
      (s, d) =>
        Dedup.jaccardPairs(
          Tables.documents(s, d), "doc_id", "text", 0.5).orderBy("i", "j"),
      Some(pairwiseJaccardSql("0.5")),
      doc = "n-gram Jaccard near-dup: prefix-filtered inverted-index " +
        "join + exact verify (All-Pairs/SSJoin)"),

    // MinHash-LSH banding + exact verify == brute-force pairwise >= 0.8.
    "dd_minhash_lsh" -> QueryDef(
      (s, d) =>
        Dedup.minhashDedup(
          Tables.documents(s, d), "doc_id", "text", 0.8).orderBy("i", "j"),
      Some(pairwiseJaccardSql("0.8")),
      doc = "MinHash(k=32) + LSH(16 bands x 2 rows) candidates, " +
        "exact-Jaccard verified at 0.8"),

    // Near-dup clusters: connected components over the Jaccard pairs,
    // canonical = min doc_id per component (what a dedup pipeline keeps).
    // Spark side is iterative min-label propagation; the oracle computes
    // the transitive closure with a recursive CTE.
    "dd_clusters" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5)
          .select("i", "j")
        Dedup.components(docs.select(col("doc_id").as("id")), pairs,
          pairsContained = true)
          .orderBy("id")
      },
      Some(clustersSql("0.5")),
      doc = "near-dup clustering: connected components by iterative " +
        "min-label propagation, canonical survivor per cluster"),

    // The steady-state form of the cluster map: the (id, label)
    // assignment is a PERSISTED id-bucketed lake table (Models.dedupMap
    // — the similarity join + connected components run once per
    // corpus), and this query is a plain read of the stored artifact.
    // Same recursive-CTE oracle as dd_clusters: the from-scratch replay
    // hash-matching the stored map proves reload == retrain.
    "dd_clusters_indexed" -> QueryDef(
      // reads through the resolved layer: identical to the raw map
      // when no fold has merged anything (no ledger), and the only
      // correct read once one has
      (s, d) => graft.sources.Models.dedupMapResolved(s, d)
        .select("id", "label").orderBy("id"),
      Some(clustersSql("0.5")),
      doc = "persisted dedup map: the cluster assignment as a bucketed " +
        "lake table, trained once — oracle retrains from scratch"),

    // A downstream consumer of the persisted map: duplication-aware
    // sampling weights computed FROM the stored (id, label) table —
    // cluster sizes + 1/size weights are two cheap aggregates over the
    // bucketed artifact (zero id-side exchange on the map read), where
    // dd_dup_weights re-runs the full similarity + components pass.
    // Same oracle as dd_dup_weights.
    "dd_dup_weights_indexed" -> QueryDef(
      (s, d) => {
        val m = graft.sources.Models.dedupMapResolved(s, d)
          .select("id", "label")
        val sizes = m.groupBy("label").agg(count(lit(1)).as("cluster_size"))
        m.join(sizes, "label")
          .select(col("id").as("doc_id"), col("label"), col("cluster_size"),
            round(lit(1000.0) / col("cluster_size")).cast("long")
              .as("weight_milli"))
          .orderBy("doc_id")
      },
      Some(
        s"""${clustersCtes("0.5")},
           |labels AS (
           |  SELECT id, CAST(min(r) AS BIGINT) AS label FROM reach GROUP BY id),
           |sz AS (
           |  SELECT label, CAST(count(*) AS BIGINT) AS cluster_size
           |  FROM labels GROUP BY 1)
           |SELECT l.id AS doc_id, l.label, s.cluster_size,
           |       CAST(round(1000.0 / s.cluster_size) AS BIGINT) AS weight_milli
           |FROM labels l JOIN sz s USING (label)
           |ORDER BY doc_id""".stripMargin),
      doc = "duplication-aware weights from the PERSISTED dedup map: " +
        "two aggregates over the stored artifact, no retraining — " +
        "oracle retrains from scratch"),

    // The end-to-end dedup pass (dd_survivors) in its steady-state
    // form: the surviving corpus is derived from the PERSISTED cluster
    // map — one label-count aggregate over the id-bucketed artifact
    // plus the n_chars join back to documents — instead of re-running
    // the similarity join + connected components (the registry's
    // slowest retrain, ~4 s folded). Same recursive-CTE oracle as
    // dd_survivors: the from-scratch replay hash-matching the stored
    // map's survivors proves reload == retrain for the whole pass.
    "dd_survivors_indexed" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.sources.Models.dedupMapResolved(s, d)
          .groupBy(col("label").as("doc_id"))
          .agg(count(lit(1)).as("cluster_size"))
          .join(docs.select("doc_id", "n_chars"), "doc_id")
          .orderBy("doc_id")
      },
      Some(survivorsSql("0.5")),
      doc = "full dedup pass from the PERSISTED cluster map: survivors " +
        "+ absorption counts as one aggregate over the stored artifact " +
        "— oracle retrains from scratch"),

    // The end-to-end dedup pass a training pipeline runs: shingle →
    // candidates → verify → cluster → keep ONE canonical doc per
    // near-dup cluster (min doc_id), with the cluster size it absorbs.
    "dd_survivors" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5)
          .select("i", "j")
        Dedup.components(docs.select(col("doc_id").as("id")), pairs,
          pairsContained = true)
          .groupBy(col("label").as("doc_id"))
          .agg(count(lit(1)).as("cluster_size"))
          .join(docs.select("doc_id", "n_chars"), "doc_id")
          .orderBy("doc_id")
      },
      Some(survivorsSql("0.5")),
      doc = "full dedup pass: near-dup clusters collapse to the min-id " +
        "canonical document (the surviving corpus + absorption counts)"),

    // Duplication-aware sampling weights — the soft alternative to
    // dropping: every document stays in the corpus but carries
    // weight = 1/cluster_size, so a cluster contributes one document's
    // worth of gradient no matter how many copies the crawl found.
    // Same clusters as dd_survivors; the size join is label-keyed and
    // both sides derive from the components output, so it is
    // co-partitioned behind one shuffle.
    "dd_dup_weights" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5)
          .select("i", "j")
        val comp = Dedup.components(docs.select(col("doc_id").as("id")),
          pairs, pairsContained = true)
        val sizes = comp.groupBy("label")
          .agg(count(lit(1)).as("cluster_size"))
        comp.join(sizes, "label")
          .select(col("id").as("doc_id"), col("label"),
            col("cluster_size"),
            round(lit(1000.0) / col("cluster_size")).cast("long")
              .as("weight_milli"))
          .orderBy("doc_id")
      },
      Some(
        s"""${clustersCtes("0.5")},
           |labels AS (
           |  SELECT id, CAST(min(r) AS BIGINT) AS label FROM reach GROUP BY id),
           |sz AS (
           |  SELECT label, CAST(count(*) AS BIGINT) AS cluster_size
           |  FROM labels GROUP BY 1)
           |SELECT l.id AS doc_id, l.label, s.cluster_size,
           |       CAST(round(1000.0 / s.cluster_size) AS BIGINT) AS weight_milli
           |FROM labels l JOIN sz s USING (label)
           |ORDER BY doc_id""".stripMargin),
      doc = "duplication-aware sampling weights: keep every document, " +
        "weight 1/cluster_size (soft dedup - a cluster contributes one " +
        "document's worth of sampling mass)"),

    // Benchmark decontamination: which non-test (train+val) documents
    // leak a test-split document's content? Shares the ds_split hash
    // boundary ('e6' = the ~10% test slice), so the check runs against
    // exactly the split a training run would hold out — the h < 'e6'
    // side is everything that could end up in a training job
    // (train + val), not the train slice alone. At sf0.01 the hits are
    // the cross-split members of the planted near-dup clusters.
    "dd_decontaminate" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
        Dedup.contamination(
          docs.filter(h < "e6"), docs.filter(h >= "e6"),
          "doc_id", "text", minShared = 5)
          .orderBy("i", "j")
      },
      Some(
        s"""WITH $shingleCtes,
           |g AS (
           |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
           |         unnest(sg) AS s
           |  FROM sh),
           |tr AS (SELECT doc_id, s FROM g WHERE h < 'e6'),
           |pr AS (SELECT doc_id, s FROM g WHERE h >= 'e6'),
           |rare AS (SELECT s FROM pr GROUP BY s HAVING count(*) <= 10)
           |SELECT tr.doc_id AS i, p.doc_id AS j,
           |       CAST(count(*) AS BIGINT) AS shared
           |FROM tr JOIN (SELECT pr.doc_id, pr.s FROM pr
           |              JOIN rare USING (s)) p
           |  ON tr.s = p.s
           |GROUP BY 1, 2 HAVING count(*) >= 5
           |ORDER BY i, j""".stripMargin),
      doc = "benchmark decontamination: non-test (train+val) docs sharing " +
        ">= 5 distinct 3-gram shingles with a test-split doc " +
        "(df-capped probe index)"),

    // Incremental dedup: today's batch (h >= 'cc', ~20%) against the
    // historical index (h < 'cc') — cross-split near-dups only, no
    // index-vs-index re-enumeration. LSH + exact verify == brute-force
    // cross-split pairwise Jaccard, so the oracle is the brute join.
    "dd_incremental" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
        Dedup.incrementalDedup(
          docs.filter(h < "cc"), docs.filter(h >= "cc"),
          "doc_id", "text", 0.8)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some(incrementalOracle),
      doc = "incremental dedup: new-batch docs probed against the " +
        "historical index's MinHash-LSH bands, cross-split pairs only " +
        "(index never re-enumerated), per-doc canonical survivor"),

    // The steady-state form of dd_incremental: the historical index's
    // bands + shingle sets are PERSISTED bucketed tables
    // (Models.lshIndex — trained on first use, loaded thereafter, also
    // across restarts), and only the day's batch is processed from
    // scratch. Identical output contract ⇒ identical oracle. The probe
    // join reads the index with zero index-side exchange (bucketed on
    // the band key / doc id; PlanSpec pins it) — at 100 TB the index
    // never moves, the batch does.
    "dd_incremental_indexed" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
        val (bands, sets) = graft.sources.Models.lshIndex(
          s, d, docs.filter(h < "cc"), "doc_id", "text")
        Dedup.incrementalDedupIndexed(
          bands, sets, docs.filter(h >= "cc"), "doc_id", "text", 0.8)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some(incrementalOracle),
      doc = "incremental dedup against the PERSISTED historical LSH " +
        "index (bucketed band + shingle-set tables, trained once): " +
        "zero index-side exchange in the probe join"),

    // The LSH index DAILY FOLD under the oracle gate — the dedup twin
    // of tx_bm25_append: base band + shingle-set artifacts train from
    // the < a8 md5 slice in a RUN-PRIVATE dir, the [a8, cc) slice
    // folds in through Models.lshIndexAppend (bucket-preserving band +
    // set appends), and the >= cc batch probes the FOLDED index. Band
    // keys are per-document functions of the content (minhash of the
    // doc's own shingles), so folded index content == retrained index
    // content, and the oracle — brute-force cross-split Jaccard of
    // (< cc) vs (>= cc), the SAME one as dd_incremental — hash-matches
    // iff the fold really produced the whole index.
    "dd_incremental_append" -> QueryDef(
      (s, d) => {
        val tmp = SourceQueries.tempDir("graft_lsh_fold")
        val docs = Tables.documents(s, d)
        val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
        // base band + shingle-set artifacts from the MEMOIZED scene
        // (bit-identical to the in-query train — Scenes scaladoc); the
        // fold under test still runs in full on the cloned copy
        graft.sources.Scenes.cloneScene(s, d, "lsh_a8", tmp,
          params = "slice<a8,k32,b16,w3") { c =>
          graft.sources.Models.lshIndex(s, c,
            docs.filter(h < "a8"), "doc_id", "text")
          ()
        }
        graft.sources.Models.lshIndexAppend(s, tmp,
          docs.filter(h >= "a8" && h < "cc").select("doc_id", "text"),
          "doc_id", "text")
        val (bands, sets) = graft.sources.Models.lshIndex(s, tmp,
          sys.error("index exists — training must not run"),
          "doc_id", "text")
        // result materialized: reclaim the run-private fold artifacts
        Materialize.releasing("dedup:dd_incremental_append:summary",
          Dedup.incrementalDedupIndexed(
              bands, sets, docs.filter(h >= "cc"), "doc_id", "text", 0.8)
            .withColumnRenamed("id", "doc_id")
            .orderBy("doc_id"))(graft.sources.Models.drop(s, tmp))
      },
      Some(incrementalOracle),
      doc = "incremental dedup served from a FOLDED LSH index (base " +
        "train + lshIndexAppend of the held-out slice) — same " +
        "brute-force oracle as dd_incremental, proving fold == " +
        "retrain at the hash gate"),

    // The cluster MAP daily fold under the oracle gate — the fourth
    // and last append family (postings, LSH, ANN codes, and now the
    // map): base map + LSH index train on the < a8 slice in a
    // run-private dir, the [a8, cc) batch folds in through
    // Models.dedupMapAppend (index-probed cross edges + exact
    // batch-internal edges, mini component pass, bucket-preserving
    // map append + the merge-remap ledger), and the RESOLVED map is
    // served. Oracle: the full recursive-CTE retrain over the < cc
    // slice — the hash match proves fold ≡ retrain INCLUDING merges
    // (a batch doc bridging two base clusters must collapse their
    // labels, which only the remap layer can express).
    "dd_map_append" -> QueryDef(
      (s, d) => {
        val tmp = SourceQueries.tempDir("graft_map_fold")
        val docs = Tables.documents(s, d)
        val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
        // third-sized base + a ~17% fold batch: the gate's content is
        // fold == retrain over the union slice (merges included) —
        // slice sizes only set the scene, and the base train (the
        // quadratic-ish part of the oracle tax) comes from the
        // MEMOIZED scene: base map + LSH index over the < 55 slice,
        // trained once and file-copied per run
        graft.sources.Scenes.cloneScene(s, d, "map_55", tmp,
          params = "slice<55,t80,k32,b16,w3") { c =>
          val slice = docs.filter(h < "55")
          slice.write.mode("overwrite").parquet(s"$c/documents.parquet")
          graft.sources.Models.dedupMap(s, c, 80)
          graft.sources.Models.lshIndex(s, c,
            Tables.documents(s, c), "doc_id", "text")
          ()
        }
        graft.sources.Models.dedupMapAppend(s, tmp,
          docs.filter(h >= "55" && h < "80").select("doc_id", "text"),
          "doc_id", "text", 80)
        Materialize.releasing("dedup:dd_map_append:resolve",
          graft.sources.Models.dedupMapResolved(s, tmp, 80)
            .withColumnRenamed("id", "doc_id")
            .orderBy("doc_id"))(graft.sources.Models.drop(s, tmp))
      },
      Some(clustersWhereSql("0.8",
        "md5(CAST(doc_id AS VARCHAR)) < '80'")),
      doc = "cluster-map daily fold: batch probed against the persisted " +
        "LSH index, folded into the bucketed map with a merge-remap " +
        "ledger, served RESOLVED — oracle retrains the full clustering " +
        "over the union slice, proving fold == retrain including merges"),

    // Batch-equivalence twin of the STREAMING ingest dedup
    // (EventStreams.dedupDocuments): documents arrive at a
    // deterministic event time (doc_id % 50 minutes past a fixed
    // epoch — the same clock StreamingSpec feeds the memory stream),
    // and the survivor is the first arrival per content fingerprint
    // per 10-minute event-time window (ties by (ts, doc_id) — arrival
    // order). dropDuplicatesWithinWatermark holds a sliding horizon
    // rather than tumbling windows, so the surfaces agree exactly on a
    // fingerprint's EARLIEST window (StreamingSpec pins that); a
    // re-arrival in a later window survives here but is suppressed by
    // the stream while its state lives. One fp-keyed exchange; the
    // window assignment is a scan-stage projection.
    "dd_stream_dedup_batch" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("ts", expr("timestamp'2026-01-01 10:00:00' + " +
            "(doc_id % 50) * INTERVAL '1' MINUTE"))
        Dedup.streamDedupBatch(docs, "doc_id", "text")
          .orderBy("win_start", "fp")
      },
      Some(
        """WITH e AS (
          |  SELECT doc_id,
          |    TIMESTAMP '2026-01-01 10:00:00'
          |      + (doc_id % 50) * INTERVAL 1 MINUTE AS ts,
          |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
          |  FROM documents)
          |SELECT win_start, fp, doc_id, n_arrivals FROM (
          |  SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS win_start, fp,
          |    doc_id,
          |    row_number() OVER (
          |      PARTITION BY fp, time_bucket(INTERVAL 10 MINUTE, ts)
          |      ORDER BY ts, doc_id) AS rn,
          |    CAST(count(*) OVER (
          |      PARTITION BY fp, time_bucket(INTERVAL 10 MINUTE, ts))
          |      AS BIGINT) AS n_arrivals
          |  FROM e)
          |WHERE rn = 1 ORDER BY win_start, fp""".stripMargin),
      doc = "batch twin of the streaming watermark dedup: first arrival " +
        "per (content fingerprint, 10-min event window), with arrival " +
        "counts — the backfill job that agrees with the hot path"),

    // Bloom-filter decontamination: the held-out split's 5-gram Bloom
    // filter (m=2^14 positions, k=3 md5-digit hashes) probes every
    // non-test doc map-side — the constant-memory asymmetric form of
    // dd_decontaminate. Deterministic false positives are part of the
    // contract; the oracle rebuilds the identical filter.
    "dd_bloom_probe" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
        Dedup.bloomProbe(
          docs.filter(h < "e6"), docs.filter(h >= "e6"),
          "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some(
        """WITH t AS (
          |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
          |         string_split_regex(trim(lower(text)), '\s+') AS toks
          |  FROM documents),
          |g AS (
          |  SELECT doc_id, h, i,
          |         CAST(concat('0x', substr(md5(
          |           array_to_string(toks[i:i+4], ' ')), 1, 15)) AS BIGINT)
          |           AS gh
          |  FROM t, unnest(range(1, len(toks) - 3)) AS u(i)
          |  WHERE len(toks) >= 5),
          |gp AS (
          |  SELECT doc_id, h, i, list_sort(list_distinct(
          |    [gh % 16384, (gh // 16384) % 16384,
          |     (gh // 268435456) % 16384])) AS ps
          |  FROM g),
          |bl AS (SELECT DISTINCT unnest(ps) AS p FROM gp WHERE h >= 'e6'),
          |trp AS (
          |  SELECT doc_id, i, len(ps) AS np, unnest(ps) AS p
          |  FROM gp WHERE h < 'e6'),
          |hitg AS (
          |  SELECT doc_id, i FROM trp JOIN bl USING (p)
          |  GROUP BY doc_id, i, np HAVING count(*) = np),
          |ng AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
          |       FROM g WHERE h < 'e6' GROUP BY 1),
          |nh AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
          |       FROM hitg GROUP BY 1)
          |SELECT d.doc_id,
          |  coalesce(ng.n_grams, CAST(0 AS BIGINT)) AS n_grams,
          |  coalesce(nh.n_hits, CAST(0 AS BIGINT)) AS n_hits,
          |  CAST(CASE WHEN coalesce(nh.n_hits, CAST(0 AS BIGINT)) > 0
          |       THEN 1 ELSE 0 END AS BIGINT) AS flagged
          |FROM (SELECT doc_id FROM documents
          |      WHERE md5(CAST(doc_id AS VARCHAR)) < 'e6') d
          |LEFT JOIN ng USING (doc_id)
          |LEFT JOIN nh USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin),
      doc = "Bloom-filter decontamination probe: held-out 5-gram filter " +
        "(m=2^14, k=3) broadcast as one sorted-position row, training " +
        "docs probed map-side (no gram-table join)"),

    // SimHash hamming<=3 pairs — the 60-bit token hash is 15 md5 hex
    // chars, so DuckDB replays the identical signature, banding, and
    // popcount verify (generated SQL; constants can't drift).
    "dd_simhash" -> QueryDef(
      (s, d) =>
        Dedup.simhashPairs(
          Dedup.simhash(Tables.documents(s, d), "doc_id", "text"))
          .orderBy("i", "j"),
      Some(simhashOracleSql(3)),
      doc = "SimHash-60 near-dup: 4x15-bit band blocking + popcount verify"),

    // Asymmetric containment near-dup: C(A->B) = |A∩B|/|A| >= 0.9 —
    // catches short docs quoted wholesale inside long ones, which
    // symmetric Jaccard scores near 0. Exact-recall prefix-filter
    // candidates + sorted-intersect verify; the oracle is brute-force
    // pairwise containment, so the hash match proves the prefix filter
    // loses nothing.
    "dd_containment" -> QueryDef(
      (s, d) =>
        Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
          ContainTNum, ContainTDen)
          .orderBy("i", "j"),
      Some(
        s"""WITH $shingleCtes
           |SELECT a.doc_id AS i, b.doc_id AS j,
           |       CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
           |         / CAST(len(a.sg) AS DOUBLE) AS containment
           |FROM sh a, sh b
           |WHERE a.doc_id <> b.doc_id AND len(a.sg) >= 1
           |  AND $ContainTDen * len(list_intersect(a.sg, b.sg))
           |      >= $ContainTNum * len(a.sg)
           |ORDER BY i, j""".stripMargin),
      doc = "containment near-dup (Broder resemblance vs containment): " +
        "asymmetric C(A->B) >= 0.9, prefix-filter candidates + exact " +
        "verify vs brute-force oracle"),

    // Content-defined chunking dedup audit: CDC chunk boundaries (60-bit
    // md5 of the 16-char window ending at each position ≡ 0 mod 64),
    // per-source chunk-store economics — total vs unique chunk chars is
    // exactly the dedup ratio a content-addressed store achieves.
    // Chunking is a zero-shuffle scan-stage explode; the only exchanges
    // aggregate (source, digest) counts, map-side combined. Equal
    // digests imply equal lengths, so the two-level aggregate is exact.
    "dd_cdc_chunks" -> QueryDef(
      (s, d) =>
        Dedup.cdcChunks(Tables.documents(s, d), "text")
        .groupBy(col("source"), col("chunk_digest"))
        .agg(min("chunk_len").as("clen"), count(lit(1)).as("cnt"))
        .groupBy("source")
        .agg(sum("cnt").as("n_chunks"),
          count(lit(1)).as("n_unique"),
          sum(col("clen") * col("cnt")).as("total_chars"),
          sum("clen").as("unique_chars"))
        .withColumn("dedup_ratio",
          col("unique_chars").cast("double") / col("total_chars").cast("double"))
        .orderBy("source"),
      Some(
        s"""WITH $cdcSegCtes,
           |ch AS (SELECT s.doc_id, t.source,
           |              substr(t.text, CAST(lo + 1 AS INT),
           |                     CAST(hi - lo AS INT)) AS chunk
           |       FROM seg s JOIN t USING (doc_id)
           |       WHERE lo IS NOT NULL AND hi > lo),
           |g AS (SELECT source, md5(chunk) AS dg, length(chunk) AS clen,
           |             count(*) AS cnt
           |      FROM ch GROUP BY 1, 2, 3)
           |SELECT source,
           |       CAST(sum(cnt) AS BIGINT) AS n_chunks,
           |       CAST(count(*) AS BIGINT) AS n_unique,
           |       CAST(sum(clen * cnt) AS BIGINT) AS total_chars,
           |       CAST(sum(clen) AS BIGINT) AS unique_chars,
           |       CAST(sum(clen) AS DOUBLE) / CAST(sum(clen * cnt) AS DOUBLE)
           |         AS dedup_ratio
           |FROM g GROUP BY source ORDER BY source""".stripMargin),
      doc = "content-defined chunking (Rabin-style local boundaries): " +
        "per-source chunk-store dedup economics, zero-shuffle chunking"),

    // Cross-document chunk sharing: the near-dup edge list a
    // content-addressed store yields for free — pairs sharing >= 2
    // distinct CDC chunks of >= 24 chars, with shared chunk count and
    // character mass. Digest self-join is skew-tiled (boilerplate
    // chunks are hot keys by construction).
    "dd_cdc_cross" -> QueryDef(
      (s, d) =>
        Dedup.cdcCross(Tables.documents(s, d), "doc_id", "text",
          minShared = CdcCrossMinShared, minLen = CdcCrossMinLen)
          .orderBy("i", "j"),
      Some(
        s"""WITH $cdcSegCtes,
           |ch AS (SELECT DISTINCT s.doc_id,
           |              md5(substr(t.text, CAST(lo + 1 AS INT),
           |                         CAST(hi - lo AS INT))) AS dg,
           |              CAST(hi - lo AS BIGINT) AS clen
           |       FROM seg s JOIN t USING (doc_id)
           |       WHERE lo IS NOT NULL AND hi - lo >= $CdcCrossMinLen)
           |SELECT a.doc_id AS i, b2.doc_id AS j,
           |       count(*) AS shared_chunks,
           |       CAST(sum(a.clen) AS BIGINT) AS shared_chars
           |FROM ch a JOIN ch b2 ON a.dg = b2.dg AND a.doc_id < b2.doc_id
           |GROUP BY 1, 2 HAVING count(*) >= $CdcCrossMinShared
           |ORDER BY i, j""".stripMargin),
      doc = "cross-doc CDC chunk sharing: >= 2 shared >= 24-char chunks " +
        "per pair, skew-tiled digest self-join")
  )
}
