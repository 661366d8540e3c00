package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated testdata tables plus the derived
  * object-store-domain views (buckets / objects / chunks / parts) that
  * mirror the reference's Cassandra column families
  * (reference: src/io/pithos/bucket.clj:30-43, meta.clj:29-45,
  * blob.clj:70-93).
  *
  * The domain views are *deterministic* derivations from the testdata
  * parquet so that the DuckDB oracle can rebuild byte-identical inputs
  * with an equivalent `WITH` clause (see [[Oracle]]).
  */
object Tables {
  /** Per-path schema memo: `spark.read.parquet(path)` re-infers the
    * schema on EVERY call (a driver-side footer read + sampling), and
    * the bench builds each of ~200 queries from scratch twice — several
    * hundred redundant inferences of the same static testdata schemas
    * per run. Supplying the schema skips only that metadata step; the
    * DATA is still read fresh from parquet on every execution (this is
    * what a catalog-backed table does for a long-lived session). Keyed
    * by absolute path: the testdata tables are immutable, and the only
    * other path through here (a scene corpus's documents.parquet) is
    * written once per scene build with the identical generator schema. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path, _ =>
      Materialize.described(spark, s"tables:$name:schema") {
        spark.read.parquet(path).schema
      })
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String)    = t(s, d, "region")
  def nation(s: SparkSession, d: String)    = t(s, d, "nation")
  def customer(s: SparkSession, d: String)  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String)  = t(s, d, "supplier")
  def part(s: SparkSession, d: String)      = t(s, d, "part")
  def orders(s: SparkSession, d: String)    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String)  = t(s, d, "lineitem")
  /** events.parquet has carried either TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects — read nanos as long, derive a micros
    * `ts`) or plain TIMESTAMP(MICROS) (read as NTZ — cast to session-UTC
    * timestamp, derive `ts_ns` = micros×1000) across testdata
    * generations. Dispatch on the physical schema so both shapes expose
    * the same `(ts TIMESTAMP, ts_ns BIGINT)` view; DuckDB reads either
    * natively — oracle SQL uses `epoch_ns(ts)` for the same values. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
    }
  }

  /** DuckDB fragment mirroring [[events]] (view name `ev` to avoid
    * shadowing the driver's `events` view). */
  val evSql: String =
    """ev AS (
      |  SELECT event_id, epoch_ns(ts) AS ts_ns, ts, user_id, event_type,
      |         value, props
      |  FROM events
      |)""".stripMargin
  def documents(s: SparkSession, d: String) = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String) = t(s, d, "embeddings")

  /** Chunk length (chars) for the derived blob view — miniature of the
    * reference's 512 KiB chunks (config.clj:49-54). */
  val ChunkLen = 32
  /** Chunks per block (reference default 2048; miniature 4). */
  val ChunksPerBlock = 4
  val BlockLen: Int = ChunkLen * ChunksPerBlock

  /** `objects` view: one S3 object per document.
    * bucket = source, key = lang/d{doc_id%7}/doc_{id}.txt — a two-level
    * hierarchy so delimiter listing (meta.clj:199-222) is non-trivial. */
  def objects(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(
      $"source".as("bucket"),
      concat(
        $"lang", lit("/d"), ($"doc_id" % 7).cast("string"), lit("/doc_"),
        lpad($"doc_id".cast("string"), 6, "0"), lit(".txt")).as("object"),
      $"doc_id".as("inode"),
      $"n_chars".as("size"),
      md5(encode($"text", "UTF-8")).as("checksum"))
  }

  /** SQL fragment rebuilding [[objects]] in DuckDB (same column names). */
  val objectsSql: String =
    """objects AS (
      |  SELECT source AS bucket,
      |         lang || '/d' || CAST(doc_id % 7 AS VARCHAR) || '/doc_' ||
      |           lpad(CAST(doc_id AS VARCHAR), 6, '0') || '.txt' AS object,
      |         doc_id AS inode, n_chars AS size, md5(text) AS checksum
      |  FROM documents
      |)""".stripMargin

  /** `buckets` view: one bucket per distinct source (bucket.clj:30-43). */
  def buckets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .groupBy($"source".as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .select($"bucket", concat(lit("tenant_"), $"bucket").as("tenant"),
        $"n_docs")
  }

  val bucketsSql: String =
    """buckets AS (
      |  SELECT source AS bucket, 'tenant_' || source AS tenant,
      |         count(*) AS n_docs
      |  FROM documents GROUP BY source
      |)""".stripMargin

  /** `chunks` view: document text split into fixed 32-char chunks with
    * byte offsets — miniature of blob.clj:79-93 (inode/block/offset/
    * chunksize/payload). */
  def chunks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select($"doc_id".as("inode"),
        posexplode(expr(
          s"""transform(
             |  sequence(0, cast(ceil(length(text)/$ChunkLen.0d) as int) - 1),
             |  i -> substring(text, i*$ChunkLen + 1, $ChunkLen))""".stripMargin))
          .as(Seq("idx", "payload")))
      .select($"inode",
        ($"idx".cast("long") * ChunkLen).as("offset"),
        length($"payload").as("chunksize"),
        $"payload")
      .withColumn("block", $"offset" - ($"offset" % BlockLen))
  }

  // NB: "offset" must stay quoted in DuckDB SQL — bare `offset` parses as
  // the OFFSET clause keyword.
  val chunksSql: String =
    s"""chunks AS (
       |  SELECT d.doc_id AS inode, i * $ChunkLen AS "offset",
       |         length(substr(d.text, CAST(i*$ChunkLen + 1 AS INT), $ChunkLen)) AS chunksize,
       |         substr(d.text, CAST(i*$ChunkLen + 1 AS INT), $ChunkLen) AS payload,
       |         (i * $ChunkLen) - ((i * $ChunkLen) % $BlockLen) AS block
       |  FROM documents d,
       |       UNNEST(range(0, CAST(ceil(length(d.text)/$ChunkLen.0) AS BIGINT))) AS t(i)
       |)""".stripMargin

  /** `upload_parts` view: multipart parts from lineitem — upload session
    * = orderkey, partno = linenumber, size = extendedprice cents
    * (meta.clj:54-68). */
  def parts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lineitem(s, d).select(
      $"l_orderkey".as("upload"),
      $"l_linenumber".as("partno"),
      round($"l_extendedprice" * 100, 0).cast("long").as("size"),
      md5(encode(concat_ws("|", $"l_orderkey", $"l_linenumber"), "UTF-8"))
        .as("checksum"))
  }

  val partsSql: String =
    """parts AS (
      |  SELECT l_orderkey AS upload, l_linenumber AS partno,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS size,
      |         md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)) AS checksum
      |  FROM lineitem
      |)""".stripMargin
}
