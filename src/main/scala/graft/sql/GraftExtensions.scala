package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.functions.GraftFunctions
import graft.operators.Listing
import graft.operators.Listing.ListParams

/** Graft's SQL surface: every Catalyst function of
  * [[graft.functions.GraftFunctions.builders]] (`ldot`, `pq_luts`,
  * `minhash_sig`, `bounded_global_key`, …) and, for the flagship
  * listing operator (SURVEY §4 item 3), `list_objects(table, bucket,
  * prefix, delimiter, marker, max_keys)` as a table-valued function, so
  * the reference's `get-prefixes` listing (meta.clj:230-251) has a SQL
  * spelling:
  *
  * {{{
  * SELECT entry, kind
  * FROM list_objects('objects_v', 'src1', 'en/', '/', '', 100)
  * }}}
  *
  * Install with `SparkSession.builder.withExtensions(new
  * GraftExtensions)` (as [[GraftExtensions.localSession]] does) or
  * `spark.sql.extensions=graft.sql.GraftExtensions` (both public Spark
  * mechanisms); every session built so, `newSession()` children
  * included, resolves the whole surface by name. `list_objects`
  * resolves the named table/view through the active session's catalog
  * and returns [[Listing.entries]]' logical plan, so the SQL spelling
  * and the Scala API share one kernel: same pushed range scan, same
  * truncation contract (`max_keys + 1` rows), same plan shape.
  *
  * CONTRACT: all six arguments must be foldable (literals or
  * constant-foldable expressions) — the plan is built at resolution
  * time, before any row exists, so a column reference (e.g. from a
  * lateral join) cannot parameterize it and is rejected with a clear
  * error. Runtime-parameter listings — the reference's per-request
  * binding (meta.clj:285-290) driven from a table of requests — are
  * [[Listing.entriesBatch]]: one broadcast-join plan for the whole
  * request batch, which is also the shape that scales (ten thousand
  * in-flight listings must not be ten thousand plans).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), b))
    }
    ext.injectTableFunction((
      FunctionIdentifier("list_objects"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "list_objects"),
      (args: Seq[Expression]) => GraftExtensions.listObjectsPlan(args)))
  }
}

object GraftExtensions {

  /** The local session every graft main and the test suites run on:
    * `local[cpus]` with as many shuffle partitions, UTC, no UI, graft's
    * SQL surface installed, WARN logging; `conf` is applied last. */
  def localSession(cpus: String, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
    val s = conf.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Evaluate a foldable argument to its string value ("" for null). */
  private def strArg(e: Expression, name: String): String = {
    require(e.foldable, s"list_objects: $name must be a literal")
    Option(e.eval()).map(_.toString).getOrElse("")
  }

  private[sql] def listObjectsPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 6,
      "list_objects(table, bucket, prefix, delimiter, marker, max_keys) " +
        s"takes 6 arguments, got ${args.length}")
    val table = strArg(args(0), "table")
    val bucket = strArg(args(1), "bucket")
    val prefix = strArg(args(2), "prefix")
    val delimiter = strArg(args(3), "delimiter")
    val marker = strArg(args(4), "marker")
    val maxKeysE = args(5)
    require(maxKeysE.foldable, "list_objects: max_keys must be a literal")
    val maxKeys = maxKeysE.eval().asInstanceOf[Number].intValue()

    val spark = SparkSession.active
    val params = ListParams(
      prefix = Some(prefix).filter(_.nonEmpty),
      delimiter = Some(delimiter).filter(_.nonEmpty),
      maxKeys = maxKeys,
      marker = Some(marker).filter(_.nonEmpty))
    Listing.entries(spark.table(table), bucket, params)
      .queryExecution.logical
  }
}
