package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The ListObjects kernel — the reference's flagship query
  * (reference: src/io/pithos/meta.clj:153-251, operations.clj:243-252).
  *
  * One declarative plan instead of the reference's driver-side page loop:
  * range-bounded scan (A6) → direct-children key filter (B1) → common-
  * prefix projection + distinct (B2/G3) → union (G1) → order + limit
  * (F1/F2, D1). Catalyst pushes `bucket = ?`, `object > marker`,
  * `object < inc_prefix(prefix)` and the limit into the parquet scan, so
  * at 100 TB (objects partitioned by bucket, sorted by key) a listing
  * page touches a single partition slice — the same access path the
  * reference gets from Cassandra clustering order.
  */
object Listing {

  case class ListParams(
      prefix: Option[String] = None,
      delimiter: Option[String] = None,
      maxKeys: Int = 1000,
      marker: Option[String] = None)

  case class ListResult(
      keys: Seq[String],
      prefixes: Set[String],
      truncated: Boolean,
      nextMarker: Option[String])

  /** Range-scan predicate (A6, meta.clj:153-173): bucket equality +
    * `[prefix, inc_prefix(prefix))` bounds + strict `> marker`. */
  def scanPredicate(bucket: String, p: ListParams): Column = {
    var pred = col("bucket") === lit(bucket)
    p.prefix.filter(_.nonEmpty).foreach { pre =>
      pred = pred && col("object") >= lit(pre) &&
        col("object") < lit(graft.functions.SuccessorString.inc(pre))
    }
    p.marker.filter(_.nonEmpty).foreach { m =>
      // A marker that IS a common prefix (ends with the delimiter) means
      // the whole group was already emitted: skip-scan past it via
      // inc_prefix, exactly like S3 does, so pagination never re-lists
      // (or loops on) a prefix's members.
      val skipPrefix = p.delimiter.filter(_.nonEmpty).exists(m.endsWith)
      pred = pred && (
        if (skipPrefix)
          col("object") >= lit(graft.functions.SuccessorString.inc(m))
        else col("object") > lit(m))
    }
    pred
  }

  /** One-shot listing plan: rows `(entry, kind)` with kind ∈
    * {'key','prefix'}, sorted, limited to `maxKeys + 1` (the +1 row lets
    * the caller detect truncation without a second scan). */
  def entries(objects: DataFrame, bucket: String, p: ListParams): DataFrame = {
    val scanned = objects.filter(scanPredicate(bucket, p)).select("object")
    val pre = p.prefix.getOrElse("")
    p.delimiter.filter(_.nonEmpty) match {
      case None =>
        // No delimiter: every scanned key is a result key (meta.clj:232-234).
        scanned.select(col("object").as("entry"), lit("key").as("kind"))
          .orderBy("entry").limit(p.maxKeys + 1)
      case Some(delim) =>
        // Substring classification, shared verbatim with [[entriesBatch]]:
        // a key whose remainder after the prefix contains the delimiter
        // belongs to the common-prefix group ending at the delimiter's
        // first occurrence (inclusive); otherwise it is a direct key.
        // For single-character delimiters this is exactly the
        // reference's char-class patterns (meta.clj:204,217 build
        // `[^<delim>]*`); for multi-character delimiters the reference's
        // pattern construction degenerates (its `[^\<delim>]` class
        // escapes the first character), so we follow S3's substring
        // semantics — and entries/entriesBatch agree by construction.
        // Plain string ops also beat regexes inside the scan stage.
        val rest = call_function("substr", col("object"), lit(pre.length + 1))
        val pos = call_function("instr", rest, lit(delim))
        val keys = scanned
          .filter(pos === 0)
          .select(col("object").as("entry"), lit("key").as("kind"))
        val prefixes = scanned
          .filter(pos > 0)
          .select(concat(lit(pre),
            call_function("substr", rest, lit(1),
              pos + lit(delim.length) - lit(1))).as("entry"))
          .distinct()
          .select(col("entry"), lit("prefix").as("kind"))
        // G2 (meta.clj:239): keys claimed by a prefix are excluded — by
        // construction B1 keys contain no delimiter past the prefix, so
        // the two sets are disjoint; union suffices.
        keys.unionAll(prefixes).orderBy("entry").limit(p.maxKeys + 1)
    }
  }

  /** Batched listing: one declarative plan computing a ListObjects page
    * for EVERY row of a `requests` table — the engine-native spelling
    * of the reference's per-request runtime parameters (meta.clj:
    * 285-290 binds bucket/prefix/delimiter/marker per HTTP request).
    * At scale, ten thousand concurrent listings are one broadcast join
    * + one aggregation + one window, not ten thousand driver round
    * trips — and it is also the non-literal form of the `list_objects`
    * SQL TVF (whose arguments must be foldable; see
    * [[graft.sql.GraftExtensions]]).
    *
    * `requests` columns: `rid, bucket, prefix, delimiter, marker,
    * max_keys` with `''` meaning absent (matching [[ListParams]]'
    * None). Returns `(rid, entry, kind)`, each request's rows sorted
    * by entry and limited to `max_keys + 1` (the +1 truncation row, as
    * in [[entries]]). The classification is [[entries]]' substring
    * semantics re-expressed delimiter-as-column: a scanned key whose
    * remainder after the prefix contains the delimiter belongs to the
    * common-prefix group ending at the delimiter's first occurrence
    * (inclusive); otherwise it is a direct key — identical expressions,
    * so the two forms agree for every delimiter, multi-character
    * included.
    *
    * The requests side is broadcast: a request batch is bounded (API
    * frontends batch at most thousands of in-flight listings) while
    * `objects` is the 100 TB side — never shuffle the big side for a
    * parameter join. */
  def entriesBatch(objects: DataFrame, requests: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inc = graft.functions.GraftFunctions.incPrefix _
    val o = objects.select(col("bucket"), col("object"))
    val r = requests.select(col("rid"), col("bucket").as("rbucket"),
      col("prefix"), col("delimiter"), col("marker"), col("max_keys"))
    // scanPredicate with the parameters as columns
    val preOk = col("prefix") === "" ||
      (col("object") >= col("prefix") && col("object") < inc(col("prefix")))
    val skipGroup = col("delimiter") =!= "" && col("marker") =!= "" &&
      col("marker").endsWith(col("delimiter"))
    val markOk = col("marker") === "" ||
      when(skipGroup, col("object") >= inc(col("marker")))
        .otherwise(col("object") > col("marker"))
    val scanned = o.join(broadcast(r),
      o("bucket") === col("rbucket") && preOk && markOk)
    val rest = call_function("substr", col("object"),
      length(col("prefix")) + lit(1))
    val pos = call_function("instr", rest, col("delimiter"))
    val isKey = col("delimiter") === "" || pos === 0
    val entry = when(isKey, col("object")).otherwise(concat(col("prefix"),
      call_function("substr", rest, lit(1),
        pos + length(col("delimiter")) - lit(1))))
    val kind = when(isKey, lit("key")).otherwise(lit("prefix"))
    // distinct collapses a prefix group's members to one row (G3); keys
    // are unique per (bucket, object) so it is a no-op for them
    val classified = scanned
      .select(col("rid"), col("max_keys"), entry.as("entry"), kind.as("kind"))
      .distinct()
    classified
      .withColumn("_rn",
        row_number().over(Window.partitionBy("rid").orderBy("entry")))
      .filter(col("_rn") <= col("max_keys") + 1)
      .select("rid", "entry", "kind")
  }

  /** Materialized page with the reference's result shape
    * (meta.clj:230-251): keys, prefix set, truncation flag, next marker.
    * The collect is bounded by `maxKeys + 1` rows (page render — the one
    * permitted driver-side materialization). */
  def listObjects(objects: DataFrame, bucket: String, p: ListParams): ListResult = {
    val page = entries(objects, bucket, p).collect()
    val truncated = page.length > p.maxKeys
    val kept = page.take(p.maxKeys)
    val keys = kept.collect { case r if r.getString(1) == "key" => r.getString(0) }
    val prefixes = kept.collect { case r if r.getString(1) == "prefix" => r.getString(0) }
    ListResult(
      keys.toSeq,
      prefixes.toSet,
      truncated,
      if (truncated && kept.nonEmpty) Some(kept.last.getString(0)) else None)
  }
}
