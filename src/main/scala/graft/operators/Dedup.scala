package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** Deduplication kernels for the training-data pipeline: exact
  * (hash-groupBy), n-gram Jaccard (prefix-filtered inverted-index join),
  * MinHash+LSH banding, and SimHash hamming buckets.
  *
  * Scale design (100 TB): nothing here is all-pairs. Candidate
  * generation is always an equi-join on a blocking key (shared shingle
  * prefix / LSH band / SimHash band), so Spark executes it as a shuffled
  * hash join on the key — the only quadratic work is within a candidate
  * bucket, and every approximate path ends in an exact verification
  * join, so the *output* is exact for pairs above the threshold (the
  * DuckDB oracle recomputes them with brute-force pairwise Jaccard).
  *
  * Shingles are hashed to int64 (`xxhash64`) immediately after
  * generation: every downstream join/aggregate compares 8-byte keys
  * instead of multi-word strings, and per-doc shingle *sets* travel as
  * sorted long arrays — one compact cached table feeds the inverted
  * index, the signatures, and the verification join (which is then two
  * array lookups + `array_intersect` per candidate pair instead of an
  * exploded row join).
  */
object Dedup {

  // ---- shingling ---------------------------------------------------------

  /** Per-doc shingle sets as sorted int64-hash arrays:
    * `(id, hs array<long>, n)` — a *zero-shuffle* projection of the
    * corpus scan via the fused [[graft.functions.ShingleHashes]]
    * expression (hash-identical to exploding + `xxhash64` + regrouping;
    * collision probability over a few hundred shingles/doc is ~2^-50 —
    * negligible vs the string-exact oracle). Docs with fewer than `w`
    * tokens produce no row. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 3): DataFrame =
    docs
      .select(col(idCol).as("id"),
        graft.functions.GraftFunctions
          .shingleHashes(TextOps.tokens(col(textCol)), w).as("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn("n", size(col("hs")).cast("long"))

  // ---- exact dedup -------------------------------------------------------

  /** Exact dedup by content fingerprint: one surviving row per distinct
    * normalized text, canonical id = min(id) (hash-groupBy — one
    * shuffle on the fingerprint, map-side combined). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"),
        TextOps.mdFingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min("id").as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Jaccard-similar pairs above `threshold` using *prefix filtering*
    * (Chaudhuri et al. SSJoin / Bayardo et al. All-Pairs): order each
    * doc's shingles by global document frequency (rarest first), index
    * only the first `|d| - ceil(t*|d|) + 1` shingles. Any pair with
    * J >= t must collide on at least one indexed prefix shingle, so the
    * candidate join touches a tiny fraction of the full inverted index;
    * a size filter (`J >= t ⇒ t·max(|a|,|b|) <= min(|a|,|b|)`) prunes
    * further before exact verification. Output equals brute-force
    * pairwise Jaccard >= t (what the oracle computes).
    *
    * Returns `(i, j, jac)` with i < j.
    */
  /** `precomputedSets`, when supplied, are [[shingleSets]] of `docs`
    * (id, hs, n) the caller already derived — the fold paths shingle a
    * batch ONCE and feed every consumer (tokenize+shingle is the
    * fold's dominant per-row cost; re-deriving it per consumer triples
    * it). They are read as handed in (the callers hand over a local
    * checkpoint); only sets derived here are cached, and released on
    * return. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, w: Int = 3,
      hotThreshold: Long = 100000L, tiles: Int = 8,
      precomputedSets: Option[DataFrame] = None): DataFrame = {
    // The threshold as an exact rational tNum/tDen: every pruning bound
    // below is computed in integer arithmetic. Double formulations like
    // `ceil(t * n)` mis-round at exact-threshold boundaries (e.g.
    // 0.8*35 = 28.000000000000004 → ceil 29) and either index one
    // prefix shingle too few or prune a qualifying pair — silently
    // violating the "equals brute-force pairwise Jaccard" contract.
    val tNum = math.round(threshold * 1000000L)
    val tDen = 1000000L
    require(math.abs(tNum / tDen.toDouble - threshold) < 1e-12,
      s"threshold must be exact at 6 decimals, got $threshold")

    val own = Option.when(precomputedSets.isEmpty)(
      shingleSets(docs, idCol, textCol, w).cache())
    val sets = precomputedSets.orElse(own).get
    val exploded = sets.select(col("id"), col("n"), explode(col("hs")).as("sh"))

    // Global document frequency per shingle → rarest-first order.
    val df = exploded.groupBy("sh").agg(count(lit(1)).as("df"))
    // prefix length: n - ceil(t·n) + 1, ceil in exact integer form
    val ceilTn = expr(s"($tNum * n + ${tDen - 1}) div $tDen")
    val ranked = exploded.join(df, "sh")
      .withColumn("rank", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("sh"))))
      .filter(col("rank") <= col("n") - ceilTn + 1)
      .select("sh", "id", "n", "rank")

    // Candidate pruning on each colliding prefix shingle (all integer):
    //  - size filter: J >= t ⇒ t·max(|a|,|b|) <= min(|a|,|b|)
    //      ⇔ tNum·max <= min·tDen;
    //  - positional filter (PPJoin): overlap needed
    //      α = ⌈tNum·(na+nb) / (tNum+tDen)⌉, and from a collision at
    //    prefix positions (pa, pb) at most min(na-pa, nb-pb)+1 overlap
    //    is achievable. A qualifying pair always survives via its
    //    *first* common shingle (nothing common precedes it), so
    //    filtering every collision is lossless.
    // The collision enumeration itself goes through the payload-carrying
    // skew-safe self-join: a boilerplate shingle shared by a viral
    // duplicate cluster lands in the prefix of every copy, and without
    // tiling that one inverted-list bucket is a quadratic task.
    // (selfJoinRows also materializes `ranked` once, so the df-join +
    // ranking window run once, not once per join side.)
    val alpha =
      expr(s"($tNum * (i_n + j_n) + ${tNum + tDen - 1}) div ${tNum + tDen}")
    val cand = Skew
      .selfJoinRows(ranked, Seq("sh"), "id", Seq("n", "rank"), hotThreshold,
        tiles)
      .filter(
        lit(tNum) * greatest(col("i_n"), col("j_n")) <=
          least(col("i_n"), col("j_n")) * tDen &&
        least(col("i_n") - col("i_rank"), col("j_n") - col("j_rank")) + 1 >=
          alpha)
      .select(col("i"), col("j"))
      .distinct()

    Materialize("dedup:jaccard_pairs:verify",
      verify(cand, sets).filter(col("jac") >= threshold), own.toSeq: _*)
  }

  /** Exact Jaccard of candidate pairs: two array lookups per pair + a
    * codegen'd linear-merge intersection count over the sorted hash
    * arrays — no exploded verification join, no per-row hash sets. */
  def verify(cand: DataFrame, sets: DataFrame): DataFrame = {
    val a = sets.select(col("id").as("i"), col("hs").as("ha"), col("n").as("ni"))
    val b = sets.select(col("id").as("j"), col("hs").as("hb"), col("n").as("nj"))
    cand.join(a, "i").join(b, "j")
      .withColumn("inter",
        graft.functions.GraftFunctions
          .sortedIntersectCount(col("ha"), col("hb")))
      .select(col("i"), col("j"),
        (col("inter").cast("double") /
          (col("ni") + col("nj") - col("inter"))).as("jac"))
  }

  // ---- benchmark decontamination -----------------------------------------

  /** Benchmark decontamination: train documents sharing at least
    * `minShared` distinct w-gram shingles with a probe/benchmark
    * document (the n-gram overlap check of GPT-3 appendix C / Gopher
    * A3; Brown et al. 2020). Returns `(i, j, shared)` — train doc i,
    * probe doc j, number of shared distinct shingles.
    *
    * Scale shape: ONE equi-join on the shingle hash. Probe shingles
    * with document frequency > `maxProbeDf` are dropped first —
    * ubiquitous boilerplate is not contamination evidence, and the cap
    * bounds the join fan-out (each train-side shingle row matches
    * ≤ maxProbeDf probe rows), so no bucket is ever quadratic and the
    * enumeration needs no skew guard. Per-doc shingle sets are distinct
    * ([[shingleSets]]), so the per-pair row count IS the distinct
    * shared count — a plain count(*), no countDistinct re-shuffle. */
  def contamination(train: DataFrame, probe: DataFrame, idCol: String,
      textCol: String, minShared: Long, w: Int = 3,
      maxProbeDf: Long = 10L): DataFrame = {
    val tr = shingleSets(train, idCol, textCol, w)
      .select(col("id").as("i"), explode(col("hs")).as("sh"))
    val pr = shingleSets(probe, idCol, textCol, w)
      .select(col("id").as("j"), explode(col("hs")).as("sh"))
    val rare = pr.groupBy("sh").agg(count(lit(1)).as("pdf"))
      .filter(col("pdf") <= maxProbeDf)
      .select("sh")
    tr.join(pr.join(rare, "sh"), "sh")
      .groupBy("i", "j").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Bloom-filter decontamination probe — the constant-memory scale
    * path for "does any training document contain a held-out n-gram".
    *
    * [[contamination]] joins the two n-gram tables, which shuffles the
    * training side's full gram table; at 100 TB of training text
    * against a fixed benchmark suite that is the wrong asymmetry. Here
    * the *held-out* side (small by construction) is folded into a Bloom
    * filter of `m` bit positions — `k` md5-derived positions per gram
    * ([[tokenHash60]] split into base-`m` digits, so DuckDB replays the
    * filter bit-for-bit) — and the filter ships as ONE broadcast row
    * (a sorted position array, ≤ m entries). The probe over training
    * grams is then a zero-shuffle map pass: per gram, an O(k·log m)
    * sorted-intersect against the broadcast array; a gram "hits" iff
    * all its positions are set. False positives are inherent to Bloom
    * filters, deterministic given (m, k, hash), and replayed exactly by
    * the oracle; false negatives are impossible — so a zero-hit
    * document is *provably* clean and the (tiny) hit set is what a
    * pipeline re-checks with the exact join.
    *
    * Returns one row per probed document: `(id, n_grams, n_hits,
    * flagged)` with gram *instances* counted (a window repeated inside
    * one doc counts each occurrence). Documents shorter than `wTok`
    * tokens have zero grams and are never flagged. */
  def bloomProbe(train: DataFrame, heldOut: DataFrame, idCol: String,
      textCol: String, wTok: Int = 5, m: Int = 1 << 14): DataFrame = {
    val mm = m.toLong
    // per-doc gram instances: (id, gh) for every wTok-token window
    def grams(df: DataFrame): DataFrame =
      df.select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("w"))
        .select(col("id"), explode(TextOps.ngrams(col("w"), wTok)).as("win"))
        .select(col("id"), tokenHash60(col("win")).as("gh"))
    // k=3 positions: base-m digits of the 60-bit hash (gh >= 0, so
    // Spark `div` == DuckDB `//` — no negative-division divergence)
    def positions(gh: String): Column = array_sort(array_distinct(array(
      expr(s"$gh % $mm"), expr(s"($gh div $mm) % $mm"),
      expr(s"($gh div ${mm * mm}) % $mm"))))
    val bloom = broadcast(grams(heldOut)
      .select(explode(positions("gh")).as("p")).distinct()
      .agg(array_sort(collect_list(col("p"))).as("_bloom")))
    val probed = grams(train)
      .withColumn("ps", positions("gh"))
      .crossJoin(bloom)
      .withColumn("hit",
        graft.functions.GraftFunctions
          .sortedIntersectCount(col("ps"), col("_bloom")) === size(col("ps")))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hits"))
    train.select(col(idCol).as("id"))
      .join(probed, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_hits"), lit(0L)) > 0, 1L).otherwise(0L)
          .as("flagged"))
  }

  // ---- near-dup clustering (connected components) ------------------------

  /** Connected components over near-dup pairs → `(id, label)` with
    * label = min id in the component (the canonical survivor a dedup
    * pipeline keeps). Min-label propagation with *pointer jumping*: each
    * round a node takes the min of its own and its neighbors' labels,
    * then follows that label's own label (the label table doubles as a
    * parent-pointer forest, labels ⊆ ids). The jump halves the distance
    * to the component minimum, so convergence is O(log diameter) rounds
    * — a 100 TB graph with one million-node chain converges in ~20
    * rounds where plain propagation needs a million.
    *
    * The min id m of a component is a fixpoint (every label in the
    * component is an id ≥ m, so least() never moves it), and all other
    * labels decrease monotonically toward it — identical final labels to
    * plain propagation, just fewer rounds.
    *
    * The jump is *adaptive*: the first `jumpAfter` rounds run plain
    * propagation (two joins/round) — while labels are still churning
    * within a 1-2 hop neighborhood the jump join is pure overhead — and
    * pointer jumping (a third join/round) starts only once the cheap
    * rounds have flooded the local structure. Any `jumpAfter` yields the
    * same fixpoint; it only shifts where the O(log diameter)
    * acceleration kicks in.
    *
    * Scale notes: one materialization per round (`localCheckpoint`
    * truncates lineage so the plan doesn't grow); the `changed` flag is
    * computed IN the update pass, so the convergence probe is a cheap
    * `limit(1)` scan of the checkpointed result, not a second join. */
  /** @param pairsContained callers whose pairs are derived FROM `ids`
    *   (every query in this repo) may pass true to skip the containment
    *   semi-joins; leave false when the pair source could be wider than
    *   `ids` — an endpoint outside `ids` must not become a canonical
    *   label, or downstream joins on the label silently drop clusters.
    * @param checkpointDir where each round's label state materializes.
    *   None (default) uses `localCheckpoint` — blocks live on executor
    *   storage, the fastest option, but a LOST EXECUTOR loses its
    *   slice of the state and fails the job (restart recomputes from
    *   the pairs). Some(dir) uses RELIABLE checkpointing to a
    *   per-invocation subdirectory of `dir` (HDFS/object store at
    *   scale): each round writes its state to the shared filesystem,
    *   so executor loss costs one task retry, not the run — the right
    *   trade for a 100 TB CC loop where O(log d) rounds each take
    *   minutes and preemption is routine. Superseded rounds' data is
    *   DELETED as labels advance, so disk high-water is two rounds of
    *   state, not O(log d); only the FINAL round's checkpoint (which
    *   the returned DataFrame reads lazily) outlives the call — delete
    *   the invocation subdirectory once consumers are done, or enable
    *   `spark.cleaner.referenceTracking.cleanCheckpoints`. The
    *   context's global checkpoint dir is restored on exit. */
  def components(ids: DataFrame, pairs: DataFrame,
      maxIter: Int = 50, pairsContained: Boolean = false,
      jumpAfter: Int = 2, checkpointDir: Option[String] = None): DataFrame = {
    val sc = ids.sparkSession.sparkContext
    val prevCkptDir = sc.getCheckpointDir
    val scoped = checkpointDir.map(d =>
      s"$d/components_${java.util.UUID.randomUUID.toString.take(8)}")
    var round = 0
    // one spelling of the per-round materialization barrier — local
    // (executor-storage) or reliable (shared-fs), chosen by the caller;
    // each reliable round gets its own subdir so superseded rounds can
    // be reclaimed by path, not by chasing RDD checkpoint files
    def snap(df: DataFrame): DataFrame = {
      val label = s"dedup:components:round_$round"
      scoped match {
        case Some(base) => Materialize.described(ids.sparkSession, label) {
          sc.setCheckpointDir(s"$base/round_$round")
          df.checkpoint(eager = true)
        }
        case None => Materialize(label, df)
      }
    }
    def dropRound(r: Int): Unit = scoped.foreach { base =>
      val p = new org.apache.hadoop.fs.Path(s"$base/round_$r")
      val fsys = p.getFileSystem(sc.hadoopConfiguration)
      if (fsys.exists(p)) { fsys.delete(p, true); () }
    }
    val idOnly = ids.select(col("id"))
    val inIds =
      if (pairsContained) pairs.select(col("i"), col("j"))
      else pairs.select(col("i"), col("j"))
        .join(idOnly.withColumnRenamed("id", "i"), Seq("i"), "left_semi")
        .join(idOnly.withColumnRenamed("id", "j"), Seq("j"), "left_semi")
        // using-column joins move the join column first — re-fix the
        // (i, j) order the positional unionAll below depends on
        .select(col("i"), col("j"))
    val edges = inIds
      .unionAll(inIds.select(col("j").as("i"), col("i").as("j")))
      .cache()
    // Iterate only over nodes that appear in an edge: everything else is
    // a singleton whose label can never change. A 100 TB near-dup graph
    // is sparse (most documents pair with nothing), so every round's
    // joins run on |V(edges)| rows, not |corpus| rows; singletons are
    // unioned back at the end.
    var labels: DataFrame = null
    var converged = false
    var iter = 0
    // restore the session's checkpoint dir even when the loop throws
    // (job failure, non-convergence)
    try {
      // Seed with ROUND 1's result directly: the initial labels are
      // the ids, so the first propagation's neighborhood min is just
      // min(id, min neighbor id) — a groupBy over the edge list, the
      // SAME one shuffle the old `distinct()` init cost, but one full
      // iteration (checkpoint + probe + join round) cheaper. The loop
      // then starts from the round-1 state; fixpoint and monotonicity
      // are unchanged.
      labels = snap(edges.groupBy(col("i").as("id"))
        .agg(min(col("j")).as("mn"))
        .select(col("id"), least(col("id"), col("mn")).as("label")))
      while (!converged && iter < maxIter) {
        // one join + one agg per plain round: self-loop edges fold the
        // "own label" term into the neighborhood min, and the self-loop
        // row (j == i) smuggles the previous label out of the groupBy so
        // the changed flag needs no join back to `labels`
        val withSelf = edges
          .unionAll(labels.select(col("id").as("i"), col("id").as("j")))
        val prop = withSelf.join(labels.withColumnRenamed("id", "j"), "j")
          .groupBy(col("i").as("id"))
          .agg(min("label").as("plabel"),
            max(when(col("j") === col("i"), col("label"))).as("old"))
        // pointer jump: plabel → labels[plabel] (≤ plabel by the monotone
        // invariant), landing closer to the component minimum; skipped for
        // the first `jumpAfter` rounds where plain propagation does the
        // same label work with one less join
        val jumped =
          if (iter < jumpAfter)
            prop.select(col("id"), col("plabel").as("nl"), col("old"))
          else prop.join(
              labels.select(col("label").as("gl"), col("id").as("plabel")),
              Seq("plabel"), "left")
            .select(col("id"),
              least(col("plabel"), coalesce(col("gl"), col("plabel")))
                .as("nl"),
              col("old"))
        round += 1
        val updated = snap(jumped
          .select(col("id"), col("nl").as("label"),
            (col("nl") =!= col("old")).as("changed")))
        converged = Materialize.described(ids.sparkSession,
            s"dedup:components:probe_$round") {
          updated.filter(col("changed")).limit(1).count() == 0
        }
        labels = updated.select("id", "label")
        // the eager checkpoint above is the last reader of round-1's
        // state: reclaim it now (disk high-water = two rounds)
        dropRound(round - 1)
        iter += 1
      }
    } finally sc.setCheckpointDir(prevCkptDir.orNull)
    edges.unpersist()
    lastComponentsIterations = iter
    // mid-propagation labels are silently wrong — refuse to return them.
    // With pointer jumping the default budget covers diameter ~2^50;
    // hitting this indicates a bug, not a long chain.
    require(converged,
      s"components did not converge in $maxIter rounds")
    // singletons (ids in no edge) label themselves
    ids.select(col("id")).join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Rounds the most recent [[components]] call took to converge —
    * driver-side instrumentation (the loop IS a driver loop) read by
    * ScaleAudit, which records it alongside the run's shuffle volume so
    * the cluster family's O(log diameter) claim is a measured artifact. */
  @volatile var lastComponentsIterations: Int = 0

  // ---- MinHash + LSH -----------------------------------------------------

  /** Mersenne prime 2^31-1 for the universal-hash family
    * h_i(x) = (a_i * x + b_i) mod P. (Owned by
    * [[graft.functions.MinhashSig]] so the native kernel and any
    * column spelling can never drift.) */
  val P = graft.functions.MinhashSig.P

  /** Deterministic (a_i, b_i) coefficients via a fixed-seed LCG (no
    * dependence on scala.util.Random's sequence across versions). */
  def coeffs(k: Int, seed: Long = 42L): Seq[(Long, Long)] =
    graft.functions.MinhashSig.coeffs(k, seed)

  /** MinHash signatures: `(id, m0..m{k-1})` — k min-aggregates over the
    * shingle hash (one shuffle on id, map-side combined). Input is the
    * exploded `(id, sh)` form. (Kept as the reference spelling the
    * native kernel is pinned against — see [[minhashSignatureSets]].) */
  def minhashSignature(exploded: DataFrame, k: Int): DataFrame = {
    val base = pmod(col("sh"), lit(P))
    val mins = coeffs(k).zipWithIndex.map { case ((a, b), i) =>
      min((base * a + b) % P).as(s"m$i")
    }
    exploded.groupBy("id").agg(mins.head, mins.tail: _*)
  }

  /** [[minhashSignature]] computed directly from the per-doc shingle
    * SET table `(id, hs, ...)` — one native (|hs| × k) loop per row
    * ([[graft.functions.MinhashSig]], bit-identical arithmetic) in the
    * scan stage, replacing the explode (×|hs| rows per doc) and the
    * k-buffer min aggregation the exploded spelling paid on every
    * signature pass. Zero shuffle: the signature never leaves its
    * corpus row. DedupSpec pins equality against [[minhashSignature]]. */
  def minhashSignatureSets(sets: DataFrame, k: Int): DataFrame =
    // two projections on purpose: `_ms` is referenced k times, which
    // keeps CollapseProject from inlining (= re-evaluating) the kernel
    // per signature column
    sets.select(col("id"),
        graft.functions.GraftFunctions.minhashSig(col("hs"), k).as("_ms"))
      .select(col("id") +: (0 until k).map(i =>
        col("_ms").getItem(i).as(s"m$i")): _*)

  /** LSH candidate pairs from banded signatures (`b` bands × `r` rows):
    * docs agreeing on all r rows of any band land in the same bucket.
    * For J>=0.8, b=16/r=2 gives miss probability (1-0.8²)^16 ≈ 8e-8.
    * Hot buckets (a viral duplicate cluster) are tiled by
    * [[Skew.selfJoinPairs]] so no task is quadratic in the bucket. */
  def lshCandidates(sig: DataFrame, b: Int, r: Int,
      hotThreshold: Long = 100000L, tiles: Int = 8): DataFrame = {
    val bandKeys = (0 until b).map { i =>
      struct(lit(i).as("band"),
        concat_ws("_", (0 until r).map(o => col(s"m${i * r + o}")): _*)
          .as("key"))
    }
    val bands = sig.select(col("id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.key"))
    Skew.selfJoinPairs(bands, Seq("band", "key"), "id", hotThreshold, tiles)
      .distinct()
  }

  /** Banded signature table with a single composite bucket key per
    * (doc, band): `bk = "<band>_<m..>"` (band id leads, so keys from
    * different bands can never collide). This is the PERSISTABLE form
    * of the LSH index — written bucketed by `bk`, a daily batch probe
    * joins it with zero index-side exchange (see
    * [[graft.sources.Models.lshIndex]]). */
  def bandTable(sig: DataFrame, b: Int, r: Int): DataFrame = {
    val bandKeys = (0 until b).map { i =>
      concat_ws("_",
        lit(i) +: (0 until r).map(o => col(s"m${i * r + o}")): _*)
    }
    sig.select(col("id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("bk"), col("id"))
  }

  /** Incremental near-dup check against a PERSISTED historical index —
    * the steady-state daily form of [[incrementalDedup]]: instead of
    * re-shingling and re-banding the whole combined corpus, the index
    * side arrives as two pre-trained bucketed tables
    * (`indexBands (bk, id)`, `indexSets (id, hs, n)` — see
    * [[graft.sources.Models.lshIndex]]) and only the day's batch is
    * shingled/signed/banded from scratch.
    *
    * Candidates are a direct `indexBands ⋈ batchBands` equi-join on the
    * band bucket key — every hit is already a cross-split pair, so the
    * orientation semi/anti-join dance of the from-scratch form
    * disappears. With `indexBands` bucketed by `bk` and `indexSets` by
    * `id`, the only shuffles are of batch-sized data into the index's
    * bucket layout: the 100 TB index never moves. Batch shingle sets
    * are broadcast into the verification join (the day's crawl — small
    * by construction).
    *
    * Output contract is identical to [[incrementalDedup]] (same band
    * scheme ⇒ same candidates ⇒ same verified pairs), so the two forms
    * share an oracle.
    *
    * Index rows whose id is IN the batch are excluded from the
    * candidate set (broadcast anti on the batch-sized id set): the
    * decisions are always "batch vs the index WITHOUT the batch", so
    * an at-least-once replay whose batch was already folded in (the
    * crash window between a maintenance fold and its applied marker)
    * re-emits the SAME decisions instead of matching every document
    * to itself at jac = 1. */
  def incrementalDedupIndexed(indexBands: DataFrame, indexSets: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, threshold: Double,
      k: Int = 32, bands: Int = 16, w: Int = 3): DataFrame =
    Materialize("dedup:incremental_indexed:summary", dedupSummaryFromPairs(
      crossSplitPairsIndexed(indexBands, indexSets, batch,
        idCol, textCol, threshold, k, bands, w),
      batch, idCol))

  /** [[incrementalDedupIndexed]]'s per-doc survivor/duplicate summary
    * derived from ALREADY-PROBED pairs — the shared reduction for
    * callers that run the (expensive) index probe ONCE and feed the
    * same pairs to both the decision sink and the cluster-map fold
    * ([[graft.streaming.EventStreams.dedupMaintenance]] with
    * `foldMap`). Pure projection/aggregation over pairs + batch ids:
    * no index scan, no materialization — callers that need a
    * write barrier add their own checkpoint. */
  def dedupSummaryFromPairs(pairs: DataFrame, batch: DataFrame,
      idCol: String): DataFrame = {
    val matched = pairs
      .groupBy(col("j").as("id"))
      .agg(count(lit(1)).as("n_dups"), min("i").as("canon_id"),
        max("jac").as("best_jac"))
    val newIds = batch.select(col(idCol).as("id"))
    newIds.join(matched, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("canon_id"), lit(-1L)).as("canon_id"),
        coalesce(col("best_jac"), lit(0.0)).as("best_jac"),
        when(col("n_dups").isNotNull, 1L).otherwise(0L).as("is_dup"))
  }

  /** The verified cross-split PAIRS of [[incrementalDedupIndexed]]:
    * `(i = index doc, j = batch doc, jac)` at Jaccard ≥ `threshold` —
    * the probe layer shared by the survivor summary above and the
    * persisted-cluster-map fold
    * ([[graft.sources.Models.dedupMapAppend]]), which needs the raw
    * edges (a batch doc bridging two index clusters merges them — the
    * per-doc canonical aggregate can't express that). Same candidate
    * generation (band-key equi-join, index side never re-enumerated,
    * index rows with batch ids anti-joined away so replays never match
    * a document to itself) and the same exact sorted-intersect
    * verification. The returned frame is materialized. Handed-in
    * `precomputedSets` are read as they are; batch sets shingled here
    * are cached and released before returning. */
  def crossSplitPairsIndexed(indexBands: DataFrame, indexSets: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, threshold: Double,
      k: Int = 32, bands: Int = 16, w: Int = 3,
      precomputedSets: Option[DataFrame] = None): DataFrame = {
    val own = Option.when(precomputedSets.isEmpty)(
      shingleSets(batch, idCol, textCol, w).cache())
    val bSets = precomputedSets.orElse(own).get
    val bBands = bandTable(minhashSignatureSets(bSets, k),
      bands, k / bands)
    val cand = indexBands
      .join(broadcast(batch.select(col(idCol).as("id"))), Seq("id"),
        "left_anti")
      .join(bBands.withColumnRenamed("id", "j"), "bk")
      .select(col("id").as("i"), col("j")).distinct()
    val withJac = cand
      .join(indexSets.select(col("id").as("i"), col("hs").as("ha"),
        col("n").as("ni")), "i")
      .join(broadcast(bSets.select(col("id").as("j"), col("hs").as("hb"),
        col("n").as("nj"))), "j")
      .withColumn("inter",
        graft.functions.GraftFunctions
          .sortedIntersectCount(col("ha"), col("hb")))
      .select(col("i"), col("j"),
        (col("inter").cast("double") /
          (col("ni") + col("nj") - col("inter"))).as("jac"))
    Materialize("dedup:cross_split_indexed:verify",
      withJac.filter(col("jac") >= threshold), own.toSeq: _*)
  }

  /** MinHash-LSH near-dup pipeline: shingle → signature → banded
    * candidates → exact-Jaccard verification at `threshold`. Same output
    * as brute-force pairwise Jaccard (up to the negligible LSH miss
    * probability) at a fraction of the join volume. */
  def minhashDedup(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 32, bands: Int = 16, w: Int = 3,
      hotThreshold: Long = 100000L, tiles: Int = 8): DataFrame = {
    val sets = shingleSets(docs, idCol, textCol, w).cache()
    val cand = lshCandidates(minhashSignatureSets(sets, k), bands, k / bands,
      hotThreshold, tiles)
    Materialize("dedup:minhash:verify",
      verify(cand, sets).filter(col("jac") >= threshold), sets)
  }

  /** Incremental near-dup check: which documents of a NEW batch are
    * near-duplicates (Jaccard >= `threshold`) of the historical
    * `index` corpus — the daily-crawl-vs-index pass an always-on
    * pipeline runs, where re-enumerating index-vs-index pairs every
    * day would be quadratic waste.
    *
    * Candidates come from the shared MinHash-LSH banding over the
    * combined corpus ([[lshCandidates]] — the skew-tiled enumeration,
    * so one viral boilerplate bucket never owns a quadratic task),
    * then cross-split orientation happens BEFORE exact verification:
    * candidate pairs semi-join the (id-only, broadcastable) batch and
    * index id sets, so the expensive sorted-intersect Jaccard runs
    * only on (index, batch) pairs — within-index and within-batch
    * collisions are discarded as bare id pairs. At true scale the
    * index side's signatures/bands are a precomputed table this query
    * would read instead of recomputing; the dataflow from the band
    * join onward is identical.
    *
    * Returns one row per batch document: `(id, n_dups, canon_id,
    * best_jac, is_dup)` — `canon_id` the smallest matching index id
    * (the survivor the batch doc collapses into), -1 when clean. */
  def incrementalDedup(index: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, threshold: Double, k: Int = 32, bands: Int = 16,
      w: Int = 3, hotThreshold: Long = 100000L,
      tiles: Int = 8): DataFrame = {
    val all = index.select(col(idCol), col(textCol))
      .unionByName(batch.select(col(idCol), col(textCol)))
    val sets = shingleSets(all, idCol, textCol, w).cache()
    val cand = lshCandidates(minhashSignatureSets(sets, k), bands, k / bands,
      hotThreshold, tiles)
    val newIds = batch.select(col(idCol).as("id"))
    // orient (i=index, j=batch); selfJoinPairs emits unordered i<j, so
    // a cross pair can arrive either way around. Only the batch id set
    // is broadcast (the day's crawl — small by construction); "in the
    // index" is its complement, so the 100 TB index side never ships:
    // semi-join one endpoint, anti-join the other, both against the
    // same tiny set. Assumes index/batch ids are disjoint.
    def oriented(oldSide: String, newSide: String) = cand
      .join(broadcast(newIds), cand(newSide) === newIds("id"), "left_semi")
      .join(broadcast(newIds), cand(oldSide) === newIds("id"), "left_anti")
      .select(col(oldSide).as("i"), col(newSide).as("j"))
    val cross = oriented("i", "j").union(oriented("j", "i"))
    val matched = verify(cross, sets).filter(col("jac") >= threshold)
      .groupBy(col("j").as("id"))
      .agg(count(lit(1)).as("n_dups"), min("i").as("canon_id"),
        max("jac").as("best_jac"))
    Materialize("dedup:incremental:verify",
      newIds.join(matched, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          coalesce(col("canon_id"), lit(-1L)).as("canon_id"),
          coalesce(col("best_jac"), lit(0.0)).as("best_jac"),
          when(col("n_dups").isNotNull, 1L).otherwise(0L).as("is_dup")),
      sets)
  }

  /** Batch twin of the streaming watermark dedup
    * ([[graft.streaming.EventStreams.dedupDocuments]]): over documents
    * with an event-time `ts` column, keep the first arrival — min
    * `(ts, id)`, i.e. stream arrival order — per (content fingerprint,
    * tumbling `windowLen` event-time window), with the window's arrival
    * count. The stream's sliding state horizon and the twin's tumbling
    * windows agree on every fingerprint's EARLIEST window (pinned in
    * StreamingSpec); a re-arrival in a later window survives here but
    * is suppressed by the stream while its state lives. One fp-keyed
    * exchange; window assignment is a scan-stage projection. */
  def streamDedupBatch(docs: DataFrame, idCol: String, textCol: String,
      windowLen: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fp", TextOps.mdFingerprint(col(textCol)))
      .groupBy(col("fp"), window(col("ts"), windowLen))
      .agg(min(struct(col("ts"), col(idCol))).as("first"),
        count(lit(1)).as("n_arrivals"))
      .select(col("window.start").as("win_start"), col("fp"),
        col(s"first.$idCol").as(idCol), col("n_arrivals"))

  // ---- SimHash -----------------------------------------------------------

  /** SimHash width: 60 bits = 15 md5 hex chars, so the per-token hash is
    * exactly `CAST(concat('0x', substr(md5(tok),1,15)) AS BIGINT)` in
    * DuckDB and the whole operator is oracle-checkable. */
  val SimHashBits = 60
  val SimHashBands = 4
  val SimHashBandBits: Int = SimHashBits / SimHashBands // 15
  val SimHashBandMask: Long = (1L << SimHashBandBits) - 1

  /** Cross-engine 60-bit token hash: first 15 hex chars of md5. */
  def tokenHash60(token: Column): Column =
    conv(substring(md5(encode(token, "UTF-8")), 1, 15), 16, 10).cast("long")

  /** 60-bit SimHash per doc over distinct whitespace tokens: bit j is
    * the sign of Σ_tokens (±1 by bit j of hash(token)). Fused one-pass
    * expression ([[graft.functions.SimHash60]]) — a zero-shuffle
    * projection of the corpus scan. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.functions.GraftFunctions
        .simhash60(TextOps.tokens(col(textCol))).as("simhash"))

  /** Near-dup pairs with hamming(simhash) <= maxDist (maxDist < 4):
    * banding by the four 15-bit quarters guarantees a colliding band for
    * any pair within distance 3 (pigeonhole), then exact popcount
    * verification. Hot band buckets are tiled, and the signature rides
    * through the enumeration as a [[Skew.selfJoinRows]] payload — the
    * popcount needs no join-back. */
  // ---- corpus-level exact line dedup ------------------------------------

  /** md5 of the empty string — the `kept_md5` of a document whose every
    * non-blank line was claimed by an earlier document. */
  private val EmptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"

  /** RefinedWeb/CCNet-style corpus-level exact line deduplication: a
    * non-blank line (trimmed) survives only in the FIRST document that
    * contains it (ordered by `(id, line index)`); every later occurrence
    * anywhere in the corpus is dropped. Boilerplate headers, footers,
    * nav bars and cookie banners repeated across a crawl disappear while
    * each document keeps its original line order.
    *
    * Returns one row per input document:
    * `(id, n_lines, n_kept, kept_md5)` where `n_lines` counts non-blank
    * lines, `n_kept` the surviving ones, and `kept_md5` hashes the
    * surviving lines joined by `\n` in original order (so the oracle
    * verifies the reconstruction byte-for-byte without shipping text).
    *
    * Scale (100 TB): the first-occurrence table is one row per DISTINCT
    * line — far too large to broadcast — so survivors are found with a
    * fingerprint equi-join. Hot fingerprints are the norm in crawl data
    * ("Home", "Accept cookies" appear millions of times): the
    * first-occurrence aggregate absorbs them in the map-side combine
    * (partial `min`), and the occurrence⋈firsts join goes through
    * [[Skew.saltedJoin]] so no single reducer owns a hot line. Per-doc
    * reconstruction state is document-sized (`collect_list` of that
    * doc's own kept lines). */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      saltFactor: Int = 8): DataFrame = {
    val lines = docs
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "raw")))
      .select(col("id"), col("idx"), trim(col("raw")).as("ln"))
      .filter(col("ln") =!= "")
      .withColumn("fp", md5(encode(col("ln"), "UTF-8")))
    val firsts = lines
      .groupBy("fp")
      .agg(min(struct(col("id"), col("idx"))).as("first"))
    val kept = Skew.saltedJoin(lines, firsts, "fp", saltFactor)
      .filter(col("first.id") === col("id") &&
        col("first.idx") === col("idx"))
    val totals = lines.groupBy("id").agg(count(lit(1)).as("n_lines"))
    val keptStats = kept.groupBy("id").agg(
      count(lit(1)).as("n_kept"),
      md5(encode(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("ln")))),
          x => x.getField("ln")), "\n"), "UTF-8")).as("kept_md5"))
    docs.select(col(idCol).as("id"))
      .join(totals, Seq("id"), "left")
      .join(keptStats, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_md5"), lit(EmptyMd5)).as("kept_md5"))
  }

  // ---- repeated-substring detection (ExactSubstr-style) -----------------

  /** Repeated-substring detection at k-token granularity (the dedup
    * target of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", which removes 50-token substrings that
    * repeat corpus-wide; k is a parameter here — the synthetic corpus
    * carries signal at k=5). A *position* in a document is duplicated
    * when its k-token window (space-joined, lowercased whitespace
    * tokens) occurs at least twice anywhere in the corpus — including a
    * second time in the same document.
    *
    * Returns one row per input document:
    * `(id, n_windows, n_dup, longest_run, dup_ratio)` — window count,
    * duplicated-position count, the longest consecutive run of
    * duplicated positions (+k-1 tokens ≈ the longest repeated substring
    * a cut-and-drop pass would excise), and `n_dup / n_windows`.
    *
    * Scale (100 TB): one row per token position, never pairs. The
    * occurrence count is a map-side-combined groupBy on the 60-bit
    * window hash; the join back to positions goes through
    * [[Skew.saltedJoin]] because repeated windows are by construction
    * the hottest keys in a crawl (license boilerplate repeats millions
    * of times). The run-length pass partitions by document — state is
    * document-sized, embarrassingly parallel. */
  def substringDups(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, saltFactor: Int = 8): DataFrame = {
    val wins = docs
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("w"))
      .select(col("id"),
        posexplode(TextOps.ngrams(col("w"), k)).as(Seq("pos", "win")))
      .select(col("id"), col("pos"), tokenHash60(col("win")).as("wh"))
    val repeated = wins.groupBy("wh")
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
      .select("wh")
    val dup = Skew.saltedJoin(wins, repeated, "wh", saltFactor)
      .select("id", "pos")
    val runs = dup
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy("id").orderBy("pos")))
      .groupBy("id", "grp").agg(count(lit(1)).as("run"))
      .groupBy("id").agg(max("run").as("longest_run"))
    val nw = wins.groupBy("id").agg(count(lit(1)).as("n_windows"))
    val nd = dup.groupBy("id").agg(count(lit(1)).as("n_dup"))
    docs.select(col(idCol).as("id"))
      .join(nw, Seq("id"), "left")
      .join(nd, Seq("id"), "left")
      .join(runs, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"),
        when(col("n_windows").isNotNull,
          coalesce(col("n_dup"), lit(0L)).cast("double") /
            col("n_windows").cast("double"))
          .otherwise(lit(0.0)).as("dup_ratio"))
  }

  def simhashPairs(sig: DataFrame, maxDist: Int = 3,
      hotThreshold: Long = 100000L, tiles: Int = 8): DataFrame = {
    require(maxDist < SimHashBands, "4-band blocking covers hamming <= 3")
    val bands = sig.select(col("id"), col("simhash"),
      explode(array((0 until SimHashBands).map(i =>
        struct(lit(i).as("band"),
          expr(s"shiftright(simhash, ${i * SimHashBandBits}) & $SimHashBandMask")
            .as("key"))): _*))
        .as("bk"))
      .select(col("id"), col("simhash"), col("bk.band"), col("bk.key"))
    Skew.selfJoinRows(bands, Seq("band", "key"), "id", Seq("simhash"),
        hotThreshold, tiles)
      .select(col("i"), col("j"),
        expr("cast(bit_count(i_simhash ^ j_simhash) as int)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Containment-similar ordered pairs: documents whose shingle set is
    * ≥ `tNum/tDen` contained in another's (`C(A→B) = |A∩B| / |A|`) —
    * the ASYMMETRIC near-dup that symmetric Jaccard misses: a short doc
    * quoted wholesale inside a long one has low Jaccard but containment
    * ≈ 1 (the quote/boilerplate-inclusion case of Broder's resemblance
    * vs containment distinction). Returns ordered `(i, j, containment)`
    * — i is the contained side.
    *
    * Candidate generation is the containment prefix filter: if
    * `C(A→B) ≥ t` then B shares at least one of A's first
    * `|A| − ceil(t·|A|) + 1` smallest shingle hashes (pigeonhole over
    * the global hash order — if all of them missed B, fewer than
    * `ceil(t·|A|)` intersections could remain). So the join probes a
    * per-doc PREFIX against the full inverted index: exact recall with
    * no all-pairs work, the asymmetric cousin of [[jaccardPairs]]'s
    * two-sided PPJoin bound. The threshold stays rational
    * (`ceil(t·n) = (n·tNum + tDen − 1) div tDen`) — no float at any
    * pruning or accept decision. Hot shingles are salted
    * ([[Skew.saltedJoin]]); verification is the codegen'd
    * sorted-intersect against the exact bound.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      tNum: Int = 9, tDen: Int = 10, saltFactor: Int = 8): DataFrame = {
    val sets = Materialize("dedup:containment_pairs:shingles",
      shingleSets(docs, idCol, textCol))
    val probes = sets.select(col("id").as("i"), explode(expr(
      s"slice(hs, 1, cast(n - ((n * $tNum + ${tDen - 1}) div $tDen) + 1 as int))"))
      .as("sh"))
    val index = sets.select(col("id").as("j"), explode(col("hs")).as("sh"))
    val cand = Skew.saltedJoin(index, probes, "sh", saltFactor)
      .filter(col("i") =!= col("j"))
      .select("i", "j").distinct()
    cand
      .join(sets.select(col("id").as("i"), col("hs").as("ahs"),
        col("n").as("an")), "i")
      .join(sets.select(col("id").as("j"), col("hs").as("bhs")), "j")
      .withColumn("inter", graft.functions.GraftFunctions
        .sortedIntersectCount(col("ahs"), col("bhs")).cast("long"))
      .filter(col("inter") * tDen >= col("an") * tNum)
      .select(col("i"), col("j"),
        (col("inter").cast("double") / col("an").cast("double"))
          .as("containment"))
  }

  /** Window length for content-defined chunk boundaries. */
  val CdcWindow = 16
  /** Boundary divisor: P(boundary) = 1/64 per position → ~64-char
    * average chunks (miniature of the 2-8 KiB blob-store regime). */
  val CdcDivisor = 64

  /** Content-defined chunking (the Rabin-fingerprint dedup primitive
    * under blob stores and long-document dedup): a chunk boundary falls
    * AFTER character position `i` whenever the 60-bit md5 hash of the
    * [[CdcWindow]]-char window ending at `i` is ≡ 0 (mod [[CdcDivisor]]).
    * Boundaries depend only on LOCAL content, so an insertion reshapes
    * one chunk instead of shifting every fixed-width chunk edge — the
    * property that makes chunk-level dedup survive near-identical
    * documents (MDFS/LBFS lineage; the content-defined counterpart of
    * the reference's fixed-size chunk split, blob.clj:79-93).
    *
    * Returns one row per non-empty chunk: every input column plus
    * `(chunk, chunk_off, chunk_len, chunk_digest)`. Pure scan-stage HOF explode —
    * zero shuffle (PlanSpec pin); hash arithmetic is the same
    * 60-bit-md5-prefix integer form the oracle rebuilds exactly.
    */
  def cdcChunks(docs: DataFrame, textCol: String): DataFrame = {
    // boundary scan is the native one-pass `cdc_bounds` expression
    // (functions/CdcBounds.scala) — bit-identical to the HOF spelling
    // the oracle replays (DedupSpec pins the equivalence), without the
    // per-position substring/hex/conv allocations
    docs
      .withColumn("_bounds", concat(
        array(lit(0L)),
        graft.functions.GraftFunctions
          .cdcBounds(col(textCol), CdcWindow, CdcDivisor),
        array(length(col(textCol)).cast("long"))))
      .withColumn("_ch", explode(expr(
        """filter(transform(sequence(0, size(_bounds) - 2),
          |  k -> struct(_bounds[k] AS lo, _bounds[k + 1] AS hi)),
          |  c -> c.hi > c.lo)""".stripMargin)))
      .withColumn("chunk", expr(
        s"substring($textCol, CAST(_ch.lo + 1 AS INT), CAST(_ch.hi - _ch.lo AS INT))"))
      .withColumn("chunk_off", expr("_ch.lo"))
      .drop("_bounds", "_ch")
      .withColumn("chunk_len", length(col("chunk")).cast("long"))
      .withColumn("chunk_digest", md5(encode(col("chunk"), "UTF-8")))
  }

  /** Cross-document chunk sharing: ordered pairs `(i, j)` of documents
    * sharing at least `minShared` distinct CDC chunks of at least
    * `minLen` chars, with the shared chunk count and character mass —
    * the near-dup edge list a content-addressed chunk store yields for
    * free (two docs that dedup against each other's chunks are the
    * same edit lineage). Short chunks are excluded up front: a 1-char
    * chunk shared by half the corpus is noise AND a hot join key.
    * The digest self-join goes through [[Skew.selfJoinRows]] (tiled
    * hot buckets — viral boilerplate chunks never own a quadratic
    * task); the pair aggregate is map-side combined. */
  def cdcCross(docs: DataFrame, idCol: String, textCol: String,
      minShared: Int = 2, minLen: Int = 24): DataFrame = {
    val ch = cdcChunks(docs, textCol)
      .filter(col("chunk_len") >= minLen)
      .select(col(idCol).as("id"), col("chunk_digest").as("dg"),
        col("chunk_len").as("clen"))
      .distinct()
    Skew.selfJoinRows(ch, Seq("dg"), "id", Seq("clen"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("shared_chunks"),
        sum(col("i_clen")).as("shared_chars"))
      .filter(col("shared_chunks") >= minShared)
  }
}
