package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one materialization step of the operator, query and streaming
  * layers: every eager checkpoint, the release of the inputs it makes
  * unreachable, and the Spark job description its jobs carry.
  *
  * Labels follow `<module>:<operator>:<phase>` (the `models:<family>:
  * <phase>` scheme of [[graft.sources.Models]]), so every internal job
  * is attributable in listeners and the UI. A label set while another
  * is active extends it (`outer > inner`): an outer `models:` or
  * caller description is never lost. */
object Materialize {

  /** Runs `body` with every Spark job it launches described as `label`
    * (nested under the thread's current description, if any), and
    * restores the previous description afterwards. */
  def described[A](spark: SparkSession, label: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(
      if (prev == null || prev.isEmpty) label else s"$prev > $label")
    try body finally sc.setJobDescription(prev)
  }

  /** `out` eagerly local-checkpointed under `label`, then the `cached`
    * inputs unpersisted: `localCheckpoint` truncates lineage, so
    * nothing reads them once `out` exists, and a long-lived session
    * must not accumulate their partitions. Callers pass only frames
    * they cached themselves. */
  def apply(label: String, out: DataFrame, cached: DataFrame*): DataFrame =
    releasing(label, out)(cached.foreach(_.unpersist()))

  /** [[apply]] with an arbitrary release run after the checkpoint — e.g.
    * dropping a run-private artifact root the plan of `out` read. */
  def releasing(label: String, out: DataFrame)(release: => Unit)
      : DataFrame = {
    val done = described(out.sparkSession, label)(out.localCheckpoint(true))
    release
    done
  }
}
