package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-family query registries. Every entry is one
  * operator demo from SURVEY.md §2 (or a scale/LLM-pipeline operator);
  * entries with an oracle are hash-verified against DuckDB at sf0.01.
  */
object SparkEntry {

  /** All operator families (adding a family is a one-line change). */
  def registry: Map[String, QueryDef] =
    graft.queries.MetaQueries.defs ++
      graft.queries.SourceQueries.defs ++
      graft.queries.OpsQueries.defs ++
      graft.queries.RenderQueries.defs ++
      graft.queries.ErrorQueries.defs ++
      graft.queries.ScalarQueries.defs ++
      graft.queries.BlobQueries.defs ++
      graft.queries.EventQueries.defs ++
      graft.queries.AggQueries.defs ++
      graft.queries.TextQueries.defs ++
      graft.queries.CorpusQueries.defs ++
      graft.queries.DedupQueries.defs ++
      graft.queries.SimilarityQueries.defs ++
      graft.queries.MultimodalQueries.defs ++
      graft.queries.PolicyQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The ListObjects kernel (SURVEY §3.1) over the derived objects view;
    * like [[queries]], it installs the function surface first. */
  def entry(spark: SparkSession): DataFrame = {
    functions.GraftFunctions.register(spark)
    operators.Listing.entries(
      Tables.objects(spark, "/root/testdata/sf0.001"), "src1",
      operators.Listing.ListParams(
        prefix = None, delimiter = Some("/"), maxKeys = 1000))
  }

  /** The registry's builders. A caller may hand in a session built
    * without [[sql.GraftExtensions]], so each first installs graft's
    * function surface ([[functions.GraftFunctions.register]], at once a
    * no-op on an extension-built session). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, v) =>
      k -> { (s: SparkSession, dir: String) =>
        functions.GraftFunctions.register(s); v.fn(s, dir)
      }
    }

  def oracleSql: Map[String, String] =
    registry.collect { case (k, QueryDef(_, Some(sql), _)) => k -> sql }
}
