package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BoundedGlobalKey
import graft.operators.Rank

/** [[Rank.boundedGlobal]]'s contract (round 20 shape): a
  * declared-bounded window must (a) reproduce the empty-partitionSpec
  * global window EXACTLY, (b) reach the physical plan as a WindowExec
  * whose partitionSpec is the non-foldable constant
  * [[BoundedGlobalKey]] — the shape that silences Spark's "No
  * Partition Defined" WARN while staying visible to ScaleAudit's
  * match, WITHOUT any session-wide optimizer rule exclusion — and
  * (c) leave `EliminateWindowPartitions` fully active for everyone
  * else: a plain foldable key (NOT from boundedGlobal) must still be
  * stripped. If a future Spark optimizer rule starts folding or
  * stripping the key, (b) fails loud here rather than the WARN
  * silently returning. */
class WindowBoundSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
    case q: QueryStageExec => p +: allNodes(q.plan)
    case _ => p +: p.children.flatMap(allNodes)
  }

  test("boundedGlobal == the empty-spec global window, and its " +
      "WindowExec carries the non-foldable BoundedGlobalKey " +
      "partitionSpec with NO session-wide rule exclusion") {
    val df = (1 to 500).map(i => (i.toLong, (i % 7).toLong))
      .toDF("id", "v").repartition(8)
    val globalW = Window.orderBy(col("v"), col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val boundedW = Rank.boundedGlobal(col("v"), col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val g = df.withColumn("s", coalesce(sum("id").over(globalW), lit(0L)))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("v"), col("id"))))
    val b = df.withColumn("s", coalesce(sum("id").over(boundedW), lit(0L)))
      .withColumn("rk", row_number().over(
        Rank.boundedGlobal(col("v"), col("id"))))
    val got = b.collect().map(_.toString).sorted.toSeq
    val want = g.collect().map(_.toString).sorted.toSeq
    assert(got == want, "constant-partition window diverged from the " +
      "global window it replaces")
    // the r19 session-wide opt-out must be GONE: the key defends
    // itself by being non-foldable, not by disabling the rule
    val excluded = spark.conf
      .getOption("spark.sql.optimizer.excludedRules").getOrElse("")
    assert(!excluded.contains("EliminateWindowPartitions"),
      s"boundedGlobal must not exclude optimizer rules any more: " +
        s"excludedRules=$excluded")
    val nodes = allNodes(b.queryExecution.executedPlan)
    val ids = BoundedGlobalKey.aliasedIds(nodes)
    assert(ids.nonEmpty,
      "no bounded_global_key() alias in the plan — the analyzer's " +
        "window extraction shape changed; update aliasedIds")
    val ws = nodes.collect { case w: WindowExec => w }
    assert(ws.nonEmpty, "no WindowExec in the bounded plan")
    ws.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "the constant partition key was optimized away — the WARN is " +
          "back and ScaleAudit's match is blind to it")
      assert(BoundedGlobalKey.declaresBounded(w.partitionSpec, ids),
        s"partitionSpec does not trace to the declared-bounded key: " +
          s"${w.partitionSpec}")
      assert(w.partitionSpec.forall(e => !e.foldable),
        "the extracted key attribute must stay non-foldable — " +
          "foldable means EliminateWindowPartitions strips it")
    }
  }

  test("negative case: a window partitioned by a plain FOLDABLE key " +
      "(not from boundedGlobal) still gets EliminateWindowPartitions' " +
      "rewrite — the rule stayed active for everyone else") {
    val df = (1 to 100).map(i => (i.toLong, (i % 5).toLong))
      .toDF("id", "v").repartition(4)
    val litW = Window.partitionBy(lit(0)).orderBy(col("v"), col("id"))
    val p = df.withColumn("rk", row_number().over(litW))
    p.collect()
    val ws = allNodes(p.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(ws.nonEmpty, "no WindowExec in the literal-key plan")
    ws.foreach { w =>
      assert(w.partitionSpec.isEmpty,
        s"the foldable literal key survived — the r19 session-wide " +
          s"exclusion is still in force somewhere: ${w.partitionSpec}")
    }
  }
}
