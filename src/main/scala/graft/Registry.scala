package graft

/** REGISTRY.md generator (round-17 task 7): 196 queries is past the
  * point where `SparkEntry.registry` is browsable in source, so this
  * main renders a one-page index — name → family → SURVEY §2 ID →
  * oracle kind → one-line doc — from the QueryDef metadata alone. No
  * SparkSession and no artifact is read, so the page depends on code
  * only: timings live in the bench artifacts (`BENCH.json`,
  * `BENCH_sf1.json`), which every bench run overwrites.
  * Regenerate with `sbt "runMain graft.Registry"`.
  */
object Registry {

  /** Module → its defs map, for family attribution. */
  private def modules: Seq[(String, Map[String, QueryDef])] = Seq(
    "meta" -> graft.queries.MetaQueries.defs,
    "sources" -> graft.queries.SourceQueries.defs,
    "ops" -> graft.queries.OpsQueries.defs,
    "render" -> graft.queries.RenderQueries.defs,
    "errors" -> graft.queries.ErrorQueries.defs,
    "scalar" -> graft.queries.ScalarQueries.defs,
    "blob" -> graft.queries.BlobQueries.defs,
    "events" -> graft.queries.EventQueries.defs,
    "agg" -> graft.queries.AggQueries.defs,
    "text" -> graft.queries.TextQueries.defs,
    "corpus" -> graft.queries.CorpusQueries.defs,
    "dedup" -> graft.queries.DedupQueries.defs,
    "similarity" -> graft.queries.SimilarityQueries.defs,
    "multimodal" -> graft.queries.MultimodalQueries.defs,
    "policy" -> graft.queries.PolicyQueries.defs)

  /** Best-effort SURVEY §2 ID from the query-name convention: the
    * reference-surface queries encode their inventory ID as a prefix
    * (`a6_`, `j8_`, `h10_`, `is2_`); the LLM-pipeline tier families
    * map to their §2.X sections. */
  private def surveyId(name: String): String = {
    val p = "^([a-j])(\\d+)_".r
    name match {
      case _ if name.startsWith("is") && name.length > 2 &&
        name(2).isDigit => s"I-S${name(2)}"
      case _ if p.findPrefixMatchOf(name).isDefined =>
        val m = p.findPrefixMatchOf(name).get
        s"${m.group(1).toUpperCase}${m.group(2)}"
      case _ if name.startsWith("q") && name.length > 1 &&
        name(1).isDigit => "anchor"
      case _ if name.startsWith("src_") => "A1"
      case _ if name.startsWith("gc_") => "A14/A15"
      case _ if name.startsWith("err_") => "ERR"
      case _ if name.startsWith("ev_") => "I-S4"
      case _ if name.startsWith("dd_") => "§2.X dedup"
      case _ if name.startsWith("sim_") => "§2.X ANN"
      case _ if name.startsWith("mm_") => "§2.X multimodal"
      case _ if name.startsWith("tx_") => "§2.X text"
      case _ if name.startsWith("ds_") => "§2.X corpus-prep"
      case _ if name.startsWith("maint_") => "§2.X maintenance"
      case _ => "-"
    }
  }

  /** The full REGISTRY.md content — extracted from main (round 18) so
    * the freshness guard (RegistryFreshnessSpec) can diff a fresh
    * render against the committed file: a drift is a red test, not a
    * stale doc. */
  def render(): String = {
    val sb = new StringBuilder
    sb ++= "# Query registry\n\n"
    sb ++= "GENERATED by `sbt \"runMain graft.Registry\"` — do not " +
      "edit by hand.\n\n"
    sb ++= "One row per oracle-gated query in `SparkEntry.registry` " +
      "(the driver's correctness surface). Columns: SURVEY §2 ID " +
      "(name-prefix convention for the reference surface, §2.X family " +
      "for the LLM-pipeline tier); oracle kind (`sql` = DuckDB " +
      "hash-gate, `rows` = rows-only check). Timings are in the " +
      "bench artifacts (BENCH.json, BENCH_sf1.json), not here.\n"
    val total = modules.map(_._2.size).sum
    val withSql = modules.flatMap(_._2).count(_._2.oracle.isDefined)
    sb ++= s"\n${total} queries, ${withSql} with SQL oracles.\n"
    modules.foreach { case (fam, defs) =>
      sb ++= s"\n## $fam (${defs.size})\n\n"
      sb ++= "| query | §2 | oracle | what it proves |\n"
      sb ++= "|---|---|---|---|\n"
      defs.toSeq.sortBy(_._1).foreach { case (name, d) =>
        val oracle = if (d.oracle.isDefined) "sql" else "rows"
        val doc = Option(d.doc).getOrElse("").replace("|", "\\|")
          .replace("\n", " ")
        val docShort =
          if (doc.length <= 110) doc else doc.take(107) + "..."
        sb ++= s"| `$name` | ${surveyId(name)} | $oracle | $docShort |\n"
      }
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val content = render()
    java.nio.file.Files.write(java.nio.file.Paths.get("REGISTRY.md"),
      content.getBytes("UTF-8"))
    val total = modules.map(_._2.size).sum
    val withSql = modules.flatMap(_._2).count(_._2.oracle.isDefined)
    println(s"[registry] wrote REGISTRY.md: $total queries " +
      s"($withSql sql-oracled) across ${modules.size} modules")
  }
}
