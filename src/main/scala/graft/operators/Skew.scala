package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Skew mitigation for hot join keys.
  *
  * At 100 TB a handful of keys (one giant bucket in the object table, a
  * viral document's shingle, an LSH bucket of near-identical vectors)
  * can dwarf every other partition in a shuffled join. AQE's skew-join
  * splitting handles sort-merge cases adaptively; this utility is the
  * explicit form for when the skewed side must join a *moderate* right
  * side that can afford replication: salt the hot side's key into
  * `factor` sub-keys, replicate the other side across all salt values,
  * join on (key, salt) — every sub-partition is ~1/factor the hot key's
  * size, and the plan stays a plain equi-join.
  */
object Skew {

  /** Equi-join `big ⋈ small` on `key` with the big side salted
    * `factor` ways. `small` is replicated `factor`× (explode over the
    * salt range) — acceptable when |small| · factor stays modest.
    *
    * The salt is a *deterministic* function of the big row's full
    * content: a nondeterministic salt (row id, rand) used as a shuffle
    * key re-deals rows on task retry, duplicating or losing join rows
    * when only part of a shuffle's reducers committed before a fetch
    * failure. Identical rows share a salt — fine, they are
    * indistinguishable anyway. */
  /** Skew-safe self-join pair enumeration for blocking schemes (LSH /
    * SimHash / SRP bands): emits every unordered id pair sharing a
    * bucket (`keyCols`), with buckets larger than `hotThreshold` *tiled*
    * — rows get a deterministic sub-block `hash(id) mod tiles`, every
    * unordered block pair (lo ≤ hi) is one equi-join tile of block lo
    * against block hi, and each row replicates to tiles+1 tile sides.
    * A viral bucket of m near-identical documents thus costs max
    * (m/tiles)² per task instead of m² in one task; the emitted pair
    * set is exactly the naive self-join's (cold buckets take the
    * direct path, and upper-triangle enumeration emits each pair in
    * exactly one tile).
    *
    * The hot set is found with one map-side-combined count and
    * broadcast (≤ n/hotThreshold buckets by construction). Callers
    * `.distinct()` across buckets as before. */
  def selfJoinPairs(blocked: DataFrame, keyCols: Seq[String], idCol: String,
      hotThreshold: Long = 100000L, tiles: Int = 8,
      checkpointDir: Option[String] = None): DataFrame =
    selfJoinRows(blocked, keyCols, idCol, Nil, hotThreshold, tiles,
      checkpointDir)
      .select("i", "j")

  /** Internal column names of the pair enumeration — caller columns in
    * `keyCols`/`idCol`/`payloadCols` must not collide with these (a
    * blocked input already carrying an `i` column would otherwise
    * produce ambiguous references or silently wrong joins). */
  private val Reserved =
    Set("i", "j", "ibid", "jbid", "_tile", "_hot", "_bn")

  /** Payload-carrying form of [[selfJoinPairs]]: emits
    * `(keyCols…, i, i_<p>…, j, j_<p>…)` per colliding pair, so callers
    * that filter on per-side attributes (e.g. PPJoin's size/positional
    * bounds on `(n, rank)`) get the identical collision rows the naive
    * self-join would produce, with the same hot-bucket tiling.
    *
    * Cold-path cost control: the band table is materialized once
    * (an eager `localCheckpoint` — it feeds every plan branch; left lazy,
    * each branch recomputes the upstream scan). Its post-checkpoint
    * count is then a cheap cached-block scan, and when the WHOLE table
    * holds ≤ `hotThreshold` rows no bucket can be hot, so the hot-count
    * aggregation job and the broadcast marking join are skipped
    * entirely — small corpora pay only the checkpoint. `hotThreshold
    * <= 0` is the explicit forced-tiling spelling (every bucket tiled,
    * no count scan at all); it is only sensible with low-cardinality
    * keys (e.g. [[graft.operators.Similarity]]'s constant-key all-pairs
    * tiling), since the hot-set broadcast bound `≤ n/hotThreshold`
    * does not apply to it.
    *
    * Lifetime note: by default the band table materializes via
    * `localCheckpoint` — cached blocks are released when the returned
    * plan's RDD is garbage-collected (the `ContextCleaner` unpersists
    * them), and the truncated lineage means an executor loss mid-job
    * fails the job instead of recomputing. That trade fits a
    * short-lived local job; for a 100 TB banding join where executor
    * preemption is routine, pass `checkpointDir = Some(dir)` to
    * materialize RELIABLY to the shared filesystem (per-invocation
    * subdirectory, same escape hatch as
    * [[Dedup.components]]'s) — executor loss then costs one task
    * retry, not the run. The reliable state outlives the call (the
    * returned plan reads it lazily); delete the subdirectory when
    * consumers are done or enable
    * `spark.cleaner.referenceTracking.cleanCheckpoints`. The context's
    * global checkpoint dir is restored before returning. */
  def selfJoinRows(blocked: DataFrame, keyCols: Seq[String], idCol: String,
      payloadCols: Seq[String], hotThreshold: Long = 100000L,
      tiles: Int = 8, checkpointDir: Option[String] = None): DataFrame = {
    val userCols = keyCols ++ (idCol +: payloadCols)
    require(userCols.forall(c => !Reserved(c)),
      s"column names ${Reserved.mkString(", ")} are reserved by " +
        s"selfJoinRows; rename the offending input column " +
        s"(got: ${userCols.mkString(", ")})")
    val keys = keyCols.map(col)
    // Null ids are dropped up front: the direct path's `i < j` silently
    // drops them (null comparison), while a tiled off-diagonal pair
    // (ibid =!= jbid) would survive — the two paths must agree, and a
    // null id cannot be canonicalized into an ordered pair anyway.
    val pruned = blocked
      .select(userCols.map(col): _*)
      .filter(col(idCol).isNotNull)
    val bandsLabel = "skew:self_join:bands"
    val bands = checkpointDir match {
      case Some(dir) =>
        Materialize.described(blocked.sparkSession, bandsLabel) {
          val sc = blocked.sparkSession.sparkContext
          val prev = sc.getCheckpointDir
          sc.setCheckpointDir(
            s"$dir/skew_${java.util.UUID.randomUUID.toString.take(8)}")
          try pruned.checkpoint(eager = true)
          finally sc.setCheckpointDir(prev.orNull)
        }
      case None => Materialize(bandsLabel, pruned)
    }

    def sided(df: DataFrame, side: String): DataFrame =
      df.select(keys ++ Seq(col(idCol).as(side)) ++
        payloadCols.map(p => col(p).as(s"${side}_$p")): _*)

    // canonical output column order, shared by every path
    val outCols = keyCols ++ Seq("i") ++ payloadCols.map(p => s"i_$p") ++
      Seq("j") ++ payloadCols.map(p => s"j_$p")

    def directPairs(df: DataFrame): DataFrame =
      sided(df, "i").join(sided(df, "j"), keyCols)
        .filter(col("i") < col("j"))
        .select(outCols.map(col): _*)

    /** One tiled join for cold AND hot buckets. Upper-triangle tile
      * enumeration with a PER-ROW tile count: a hot bucket's rows get
      * `tiles` sub-blocks, a cold bucket's rows get 1 (so a cold row
      * keeps exactly one replica per side and its join is the plain
      * per-bucket self-join). Each row gets a deterministic block id
      * b = hash(id) mod tb; tile (lo, hi), lo <= hi, is the equi-join
      * of block lo (left side) against block hi (right side): a row
      * joins as the LEFT member of tiles (b, q >= b) and as the RIGHT
      * member of tiles (q <= b, b) — at most tiles+1 replicas, and
      * every unordered block pair meets in EXACTLY one tile, so no pin
      * filter is needed and an off-diagonal tile computes m_lo·m_hi
      * candidate pairs, not (m_lo+m_hi)². (The round-5 shape joined
      * both blocks on both sides of every tile: SkewBench measured
      * ~3.75× pre-filter pair inflation.)
      *
      * Single-join design (round 6): the previous cold ∪ hot two-branch
      * plan put a Union between the joins and the consumer, and a Union
      * is a whole-stage-codegen boundary — every emitted pair was
      * materialized and iterated across it, which SkewBench measured at
      * ~3× the per-pair cost of the fused plan. One join with per-row
      * tile counts keeps the consumer (filter/agg/distinct) fused
      * directly above the join.
      *
      * The tile id `_tile = lo * tb + hi` is a USING column of the
      * join, not a post-join filter: the tile identity must reach the
      * planner as an equi-join KEY, or the whole hot bucket still
      * hashes to one partition (now with replication) and the guard
      * makes the skew worse instead of fixing it. (Found by the
      * SkewBench stress run: a struct-equality filter after the join
      * was not extracted into the join keys.) */
    def tiledPairs(df: DataFrame, allHot: Boolean): DataFrame = {
      def tiledSide(side: String): DataFrame = {
        val left = side == "i"
        // per-row tile count: tiles for hot rows, 1 for cold
        val tb = if (allHot) lit(tiles)
          else when(col("_hot").isNotNull, lit(tiles)).otherwise(lit(1))
        val bid = pmod(hash(col(idCol)), tb)
        val tileArr = (0 until tiles).map { q =>
          if (left) when(lit(q) >= bid && lit(q) < tb, bid * tb + lit(q))
          else when(lit(q) <= bid, lit(q) * tb + bid)
        }
        df.select(keys ++ Seq(col(idCol).as(side)) ++
          payloadCols.map(p => col(p).as(s"${side}_$p")) ++
          Seq(bid.as(s"${side}bid"),
            explode(array_compact(array(tileArr: _*))).as("_tile")): _*)
      }
      // The explicit numbered repartition on (keyCols, _tile) is the
      // load-bearing line: the join's INPUT here is tiny (a viral
      // bucket is kilobytes of ids) while its OUTPUT is quadratic, so
      // every size-based planner facility works against the guard — a
      // broadcast join streams the hot rows in their incoming (id-
      // clustered) partitioning, and AQE coalesces the byte-small
      // shuffle down to one reduce partition. Both re-concentrate the
      // m² workload on one task. A user-numbered repartition is exempt
      // from AQE coalescing and satisfies the join's distribution
      // requirement, so the probe side stays spread across tile groups
      // whatever join strategy is picked. (Found by SkewBench, which
      // measures max single-task seconds on a planted viral bucket.)
      //
      // parts = 4× the tile-group count (floored at shuffle.partitions):
      // hash placement of G tile keys into G bins collides 3-4 ways
      // (round 5 measured a 23×-mean max task from exactly this), while
      // 4G bins leave almost every bin with 0-1 groups, bounding a task
      // at ~2 tile shares; the empty extra partitions cost only their
      // launch overhead.
      val groups = tiles * (tiles + 1) / 2
      val parts = math.max(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt,
        4 * groups)
      val joinKeys = (keyCols :+ "_tile").map(col)
      // merge hint: the probe loop must iterate each tile group as a
      // sequential sorted run — the broadcast-hash plan the small build
      // side invites degrades to pointer-chasing a hashed relation
      // whose every key chains thousands of duplicates (measured ~40×
      // slower per emitted pair than the sort-merge group scan)
      val joined = tiledSide("i")
        .repartition(parts, joinKeys: _*).hint("merge")
        .join(tiledSide("j").repartition(parts, joinKeys: _*),
          keyCols :+ "_tile")
        // diagonal tiles self-join a block: keep one orientation and
        // drop self-pairs. Off-diagonal tiles join disjoint blocks —
        // every pair is unique but its id order is arbitrary.
        .filter(col("ibid") =!= col("jbid") || col("i") < col("j"))
      // canonicalize the off-diagonal survivors to i < j, payloads
      // following their ids (callers' filters may be asymmetric)
      val swap = col("i") > col("j")
      def pick(a: String, b: String) = when(swap, col(b)).otherwise(col(a))
      joined.select(
        (keyCols.map(col) ++
          (pick("i", "j") +:
            payloadCols.map(p => pick(s"i_$p", s"j_$p"))) ++
          (pick("j", "i") +:
            payloadCols.map(p => pick(s"j_$p", s"i_$p"))))
          .zip(outCols).map { case (c, n) => c.as(n) }: _*)
    }

    if (hotThreshold <= 0L) {
      // forced tiling: every bucket is hot by definition — no count
      // scan, no marking join
      tiledPairs(bands, allHot = true)
    } else if (Materialize.described(blocked.sparkSession,
        "skew:self_join:band_count")(bands.count()) <= hotThreshold) {
      // the whole band table fits under the threshold, so no single
      // bucket can exceed it: pure direct join, no hot-count job (and
      // the planner is free to broadcast a small side)
      directPairs(bands)
    } else {
      val hot = Materialize("skew:self_join:hot_buckets",
        bands.groupBy(keys: _*).agg(count(lit(1)).as("_bn"))
          .filter(col("_bn") > hotThreshold)
          .select(keys: _*).withColumn("_hot", lit(true)))
      // No hot bucket at all (the common case whenever the data is not
      // pathologically skewed, at ANY scale): the tiled join would run
      // every row through its cold path (one replica per side) but
      // still pay the numbered repartition to 4×tile-groups partitions,
      // the merge-hinted sort, and the canonicalization projection —
      // pure guard overhead with nothing to guard. Emit the plain
      // direct join instead; identical pair set (SkewStoreSpec pins
      // direct == tiled == naive).
      if (hot.isEmpty) directPairs(bands)
      else tiledPairs(bands.join(broadcast(hot), keyCols, "left"),
        allHot = false)
    }
  }

  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      factor: Int): DataFrame = {
    // hash only hashable column types (xxhash64 rejects MapType) and
    // resolve names verbatim (a dotted column name must not be parsed
    // as a nested field path)
    val hashable = big.schema.fields
      .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      .map(f => big.col(s"`${f.name}`"))
      .toIndexedSeq
    val salted = big.withColumn("_salt",
      pmod(xxhash64(struct(hashable: _*)), lit(factor.toLong)).cast("int"))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0), lit(factor - 1))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }
}
