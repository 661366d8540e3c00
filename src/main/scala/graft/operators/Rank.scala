package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** Exact distributed global ranking over a DISCRETE-domain sort key —
  * the two-phase replacement for `rank()/ntile(n)` over an
  * unpartitioned `Window.orderBy(v, id)`, which streams the whole
  * input through ONE task (the scale-killer class: billions of rows
  * through a single partition at 100 TB).
  *
  * Decomposition (same family as [[Profile.quantiles]]'s value
  * histogram and the 256-way bucket rebase of `ds_epoch_order`):
  * the global (v, id) order splits into three nested, individually
  * bounded levels —
  *
  *  1. '''value level''': `base_v(v)` = rows with value `< v`, an
  *     exclusive prefix sum over the VALUE HISTOGRAM
  *     (`groupBy(v).count`). The only unpartitioned window runs over
  *     that histogram, whose row count is `|distinct v|` — bounded by
  *     the value domain (a 4dp-quantized score, a length, a token
  *     count), independent of corpus size.
  *  2. '''tie-group level''': within one value's tie set, documents
  *     are sub-bucketed by `id div grpWidth` — monotone in `id`, so
  *     bucket order IS id order. `base_g(v, g)` = ties of `v` in
  *     earlier buckets, a prefix sum over the (v, g) count table
  *     windowed `partitionBy(v)` — each partition holds one tie set's
  *     bucket COUNTS (`ties/grpWidth` rows), never its rows.
  *  3. '''row level''': `row_number` within `(v, g)` ordered by `id` —
  *     at most `grpWidth` rows per window partition when ids are
  *     locally dense, and never more than one tie-bucket's rows.
  *
  * `rank(row) = base_v + base_g + local row_number`, exactly the
  * single-window `row_number() OVER (ORDER BY v, id)` — the oracle for
  * every caller stays the global-window SQL, so a hash match proves
  * the decomposition, not just the arithmetic.
  *
  * The (v, g) count table joins back on `(v, g)` — the same key the
  * row-level window just hash-partitioned on, so the join reuses that
  * exchange; the value histogram and the total-count row broadcast.
  */
object Rank {

  /** Default tie-bucket width: one row-level window partition holds at
    * most this many rows of a tie set (for locally dense ids). */
  val DefaultGrpWidth = 4096L

  /** A window that is GLOBAL by semantics but carries a CONSTANT
    * partition key (round 19): execution is identical to an empty
    * partitionSpec — every row hashes to the one partition — but the
    * plan DECLARES the single partition as intentional, so Spark's
    * "No Partition Defined for Window operation" WARN stays reserved
    * for accidental global windows. The six registry sites using this
    * are all histogram/bucket-count-sized by construction (max 1,002
    * input rows over all 197 queries, SCALE_METRICS
    * `global_windows_sf01`); the WARN noise they emitted on every
    * bench run would have masked a REAL corpus-sized window
    * regression. ScaleAudit still audits these windows against the
    * same input-row bounds — it matches [[graft.functions
    * .BoundedGlobalKey]] partition specs alongside empty ones
    * (WindowBoundSpec pins both halves).
    *
    * The key is `bounded_global_key()` — constant on every row but
    * declared NON-foldable (round 20) — so the optimizer's
    * `EliminateWindowPartitions` rule, which strips only foldable
    * partition expressions, leaves it alone with NO session-wide rule
    * exclusion: unrelated windows with accidentally-foldable keys keep
    * the rule's full rewrite, and nothing here mutates session conf
    * (the r19 `excludedRules` read-modify-write raced concurrent
    * callers and outlived the query — ADVICE r19). */
  def boundedGlobal(orderCols: Column*)
      : org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy(graft.functions.GraftFunctions.boundedGlobalKey())
      .orderBy(orderCols: _*)

  /** `df` + `outCol` = the exact 1-based global `row_number() OVER
    * (ORDER BY vCol, idCol)`, computed with the three-level bounded
    * decomposition above. `vCol` must be a discrete-domain value
    * (quantized score / integer); `idCol` must be numeric and unique. */
  def globalRowNumber(df: DataFrame, vCol: String, idCol: String,
      outCol: String, grpWidth: Long = DefaultGrpWidth): DataFrame =
    withRank(df, vCol, idCol, outCol, grpWidth)._1

  /** [[globalRowNumber]] plus the value histogram it derived the
    * level-1 bases from — callers needing corpus totals (ntile) read
    * them from the histogram instead of rescanning the input. */
  private def withRank(df: DataFrame, vCol: String, idCol: String,
      outCol: String, grpWidth: Long): (DataFrame, DataFrame) = {
    require(grpWidth >= 1, s"grpWidth must be >= 1, got $grpWidth")
    val keyed = df.withColumn("_rk_g", expr(s"$idCol div $grpWidth"))
    // level 1: value histogram + exclusive prefix (histogram-sized
    // unpartitioned window, bounded by the value domain) → broadcast
    // histogram-sized; feeds bases AND totals
    val hist = Materialize("rank:ntile_exact:histogram",
      keyed.groupBy(col(vCol).as("_rk_v")).agg(count(lit(1)).as("_rk_c")))
    val baseV = hist
      .withColumn("_rk_basev",
        coalesce(sum("_rk_c").over(
          boundedGlobal(col("_rk_v"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_rk_v").as(vCol), col("_rk_basev"))
    // level 2: per-(v, g) counts, exclusive prefix within each tie set
    // (window partitions = one tie set's BUCKET COUNTS)
    val baseG = keyed.groupBy(col(vCol), col("_rk_g"))
      .agg(count(lit(1)).as("_rk_c"))
      .withColumn("_rk_baseg",
        coalesce(sum("_rk_c").over(Window.partitionBy(vCol)
          .orderBy("_rk_g")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(vCol), col("_rk_g"), col("_rk_baseg"))
    // level 3: local row_number within (v, g), then rebase
    val ranked = keyed
      .withColumn("_rk_rn", row_number().over(
        Window.partitionBy(col(vCol), col("_rk_g")).orderBy(idCol))
        .cast("long"))
      .join(baseG, Seq(vCol, "_rk_g"))
      .join(broadcast(baseV), vCol)
      .withColumn(outCol, col("_rk_basev") + col("_rk_baseg") + col("_rk_rn"))
      .drop("_rk_g", "_rk_rn", "_rk_baseg", "_rk_basev")
    (ranked, hist)
  }

  /** Exact `ntile(n) OVER (ORDER BY vCol, idCol)` without the
    * corpus-sized single partition: the global rank comes from
    * [[globalRowNumber]], and the tile is then pure arithmetic on
    * `(rank, N)` — SQL ntile gives the first `N mod n` tiles
    * `ceil(N/n)` rows and the rest `floor(N/n)`, so
    * `tile(r) = (r-1) div (q+1) + 1` in the ceil region and
    * `rem + (r-1-rem·(q+1)) div q + 1` past it (`q = N div n`,
    * `rem = N mod n`). The single-row total broadcasts. */
  def ntileExact(df: DataFrame, n: Int, vCol: String, idCol: String,
      outCol: String, grpWidth: Long = DefaultGrpWidth): DataFrame = {
    require(n >= 1, s"ntile buckets must be >= 1, got $n")
    val (ranked, hist) = withRank(df, vCol, idCol, "_rk_r", grpWidth)
    // total N from the histogram — never a second scan of the input
    val tot = hist.agg(sum("_rk_c").as("_rk_n"))
    ranked
      .crossJoin(broadcast(tot))
      .withColumn(outCol, expr(
        s"""CASE WHEN _rk_r <= (_rk_n % $n) * (_rk_n div $n + 1)
           |     THEN (_rk_r - 1) div (_rk_n div $n + 1) + 1
           |     ELSE (_rk_n % $n) +
           |          (_rk_r - 1 - (_rk_n % $n) * (_rk_n div $n + 1))
           |            div (_rk_n div $n) + 1
           |END""".stripMargin))
      .drop("_rk_r", "_rk_n")
  }
}
