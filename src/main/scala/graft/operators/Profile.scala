package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** Column profiling for the training-data pipeline: EXACT distributed
  * quantiles over discrete-domain columns via the two-phase
  * value-histogram shape.
  *
  * Why not `percentile_approx`: its GK sketch is bounded-state but not
  * replayable by an external engine (and not exact). Why not a global
  * sort-and-index: a full sort of 100 TB for four percentiles. The
  * value-histogram form is both exact and scalable when the value
  * domain is bounded (lengths, token counts, scores quantized to a
  * grid — the columns a data pipeline actually profiles): phase 1 is a
  * map-side-combined `groupBy(group, value) → count` whose output is
  * |distinct values| rows per group regardless of corpus size; phase 2
  * runs prefix sums and threshold picks over that tiny histogram. The
  * per-group window partitions carry histogram-sized state, not
  * corpus-sized.
  *
  * The histogram is materialized EAGERLY (`localCheckpoint`) before
  * phase 2: every downstream stage — totals, prefix sums, deviation
  * folds, outlier counts — is histogram-sized, so the corpus is
  * scanned exactly ONCE per profile no matter how many derived
  * statistics read it. Left lazy, each consumer branch re-runs the
  * corpus scan (quantiles paid it twice, median+MAD outliers four
  * times).
  */
object Profile {

  /** `(g, v) → c` count histogram of the pre-projected two-column
    * frame, eagerly materialized — the ONE corpus pass. */
  private def histogram(gv: DataFrame): DataFrame =
    Materialize("profile:histogram:count",
      gv.groupBy("g", "v").agg(count(lit(1)).as("c")))

  /** Phase 2 over an existing `(g, v, c)` histogram: one row per
    * group `(g, n, vmin, vmax, p<num>...)`, exact type-1 quantiles
    * `q_p = min { v : rank(v) >= ceil(p·n) }` with thresholds in exact
    * integer arithmetic (`(num·n + 99) div 100` — double formulations
    * mis-round at exact boundaries). */
  private def quantilesFromHist(hist: DataFrame,
      pcts: Seq[Int]): DataFrame = {
    val tot = hist.groupBy("g").agg(
      sum("c").as("n"), min("v").as("vmin"), max("v").as("vmax"))
    val cum = hist.withColumn("cum", sum("c").over(
      Window.partitionBy("g").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val picks = pcts.map { p =>
      min(when(col("cum") >= expr(s"($p * n + 99) div 100"), col("v")))
        .as(s"p$p")
    }
    cum.join(tot, "g")
      .groupBy(col("g"), col("n"), col("vmin"), col("vmax"))
      .agg(picks.head, picks.tail: _*)
  }

  /** Exact type-1 (lower discrete) quantiles per group:
    * `q_p = min { v : rank(v) >= ceil(p·n) }` for each `p = num/100`
    * in `pcts`. Returns one row per group:
    * `(group, n, vmin, vmax, p<num>...)`. */
  def quantiles(df: DataFrame, groupCol: String, valCol: String,
      pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p > 0 && p <= 100),
      s"percentiles must be in (0,100], got $pcts")
    val hist = histogram(
      df.select(col(groupCol).as("g"), col(valCol).as("v")))
    quantilesFromHist(hist, pcts).withColumnRenamed("g", groupCol)
  }

  /** Robust per-group outlier detection over a discrete-domain value:
    * median + MAD (median absolute deviation), both exact type-1
    * quantiles, and the count of rows where `|v − median| > k·MAD`.
    * The z-score alternative needs mean/stddev doubles whose summation
    * order no two engines agree on; median/MAD stays in exact integers
    * end to end AND is the statistically robust choice (one corrupt
    * feed can move a mean arbitrarily, not a median).
    *
    * Everything after the histogram FOLDS the histogram, never the
    * corpus: the deviation table is `(g, |v − med|) → Σc` over
    * histogram rows (same multiset of deviations the row-level join
    * produced, pre-counted), its median is the MAD, and the outlier
    * count is `Σ c where |v − med| > k·MAD` — so the corpus is scanned
    * once and shuffles only |distinct values| rows per group, where
    * the previous row-level spelling re-scanned the corpus for the
    * deviation join, the MAD histogram, and the final count (four
    * scans total).
    *
    * NULL values are dropped up front: Spark's window `ORDER BY v`
    * sorts NULLs first while DuckDB sorts them last, and a NULL would
    * otherwise still count into `n` — either effect silently shifts
    * the median against an external replay. Dropping them makes the
    * oracle parity independent of the profiled column's nullability. */
  def robustOutliers(df: DataFrame, groupCol: String,
      valCol: org.apache.spark.sql.Column, k: Int = 3): DataFrame = {
    val hist = histogram(
      df.select(col(groupCol).as("g"), valCol.as("v"))
        .filter(col("v").isNotNull))
    val med = quantilesFromHist(hist, Seq(50))
      .select(col("g"), col("n"), col("p50").as("med"))
    val devHist = hist.join(broadcast(med.select("g", "med")), "g")
      .groupBy(col("g"), abs(col("v") - col("med")).as("v"))
      .agg(sum("c").as("c"))
    val mad = quantilesFromHist(devHist, Seq(50))
      .select(col("g"), col("p50").as("mad"))
    devHist.join(broadcast(med), "g").join(broadcast(mad), "g")
      .groupBy("g")
      .agg(max(col("n")).as("n"), max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("v") > lit(k) * col("mad"), col("c")).otherwise(0L))
          .as("n_outliers"))
      .withColumnRenamed("g", groupCol)
  }
}
