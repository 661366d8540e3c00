package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.QueryDef.withCtes
import graft.functions.GraftFunctions
import graft.operators.{BlobOps, Listing}
import graft.operators.Listing.ListParams

/** Metadata-surface operator demos (SURVEY.md §2.A/B/C/D/F/G/H) over the
  * derived object-store views, each hash-verified against a DuckDB oracle
  * rebuilding the same view. */
object MetaQueries {

  val defs: Map[String, QueryDef] = Map(

    // ---- D1/B1/B2/G1/G3/F1/F2: the ListObjects kernel -------------------
    "d1_list_prefixes" -> QueryDef(
      (s, d) =>
        Listing.entries(Tables.objects(s, d), "src1",
          ListParams(prefix = Some("en/"), delimiter = Some("/"),
            maxKeys = 100)),
      Some(withCtes(
        """SELECT * FROM (SELECT * FROM keys UNION ALL SELECT * FROM prefixes)
          |ORDER BY entry LIMIT 101""".stripMargin,
        Tables.objectsSql,
        """keys AS (
          |  SELECT object AS entry, 'key' AS kind FROM objects
          |  WHERE bucket = 'src1' AND object >= 'en/' AND object < 'en0'
          |    AND regexp_matches(object, '^en/[^/]*$')
          |)""".stripMargin,
        """prefixes AS (
          |  SELECT DISTINCT regexp_extract(object, '^(en/[^/]*/).*$', 1) AS entry,
          |         'prefix' AS kind
          |  FROM objects
          |  WHERE bucket = 'src1' AND object >= 'en/' AND object < 'en0'
          |    AND regexp_extract(object, '^(en/[^/]*/).*$', 1) <> ''
          |)""".stripMargin)),
      doc = "meta.clj:230-251 get-prefixes, delimiter grouping"),

    "d1_list_page_truncated" -> QueryDef(
      (s, d) =>
        Listing.entries(Tables.objects(s, d), "src1",
          ListParams(prefix = None, delimiter = Some("/"), maxKeys = 3)),
      Some(withCtes(
        """SELECT * FROM (
          |  SELECT object AS entry, 'key' AS kind FROM objects
          |  WHERE bucket = 'src1' AND regexp_matches(object, '^[^/]*$')
          |  UNION ALL
          |  SELECT DISTINCT regexp_extract(object, '^([^/]*/).*$', 1) AS entry,
          |         'prefix' AS kind
          |  FROM objects
          |  WHERE bucket = 'src1'
          |    AND regexp_extract(object, '^([^/]*/).*$', 1) <> ''
          |) ORDER BY entry LIMIT 4""".stripMargin,
        Tables.objectsSql)),
      doc = "meta.clj:230-251, maxKeys+1 truncation page"),

    // ---- D1 batched: runtime-parameter listings as one join plan --------
    "d1_list_batch" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val requests = Seq(
          (1, "src1", "en/", "/", "", 100), // delimiter grouping
          (2, "src1", "", "/", "", 3),      // truncated page
          (3, "src3", "", "", "en/", 50),   // no delimiter + marker
          (4, "src2", "es/", "/", "es/d2/", 25) // prefix-group marker skip
        ).toDF("rid", "bucket", "prefix", "delimiter", "marker", "max_keys")
        Listing.entriesBatch(Tables.objects(s, d), requests)
          .orderBy("rid", "entry")
      },
      Some(withCtes(
        """SELECT * FROM (
          |  SELECT 1 AS rid, entry, kind FROM (
          |    SELECT object AS entry, 'key' AS kind FROM objects
          |    WHERE bucket = 'src1' AND object >= 'en/' AND object < 'en0'
          |      AND regexp_matches(object, '^en/[^/]*$')
          |    UNION ALL
          |    SELECT DISTINCT regexp_extract(object, '^(en/[^/]*/).*$', 1),
          |           'prefix'
          |    FROM objects
          |    WHERE bucket = 'src1' AND object >= 'en/' AND object < 'en0'
          |      AND regexp_extract(object, '^(en/[^/]*/).*$', 1) <> ''
          |  ) ORDER BY entry LIMIT 101
          |) UNION ALL SELECT * FROM (
          |  SELECT 2 AS rid, entry, kind FROM (
          |    SELECT object AS entry, 'key' AS kind FROM objects
          |    WHERE bucket = 'src1' AND regexp_matches(object, '^[^/]*$')
          |    UNION ALL
          |    SELECT DISTINCT regexp_extract(object, '^([^/]*/).*$', 1),
          |           'prefix'
          |    FROM objects
          |    WHERE bucket = 'src1'
          |      AND regexp_extract(object, '^([^/]*/).*$', 1) <> ''
          |  ) ORDER BY entry LIMIT 4
          |) UNION ALL SELECT * FROM (
          |  SELECT 3 AS rid, object AS entry, 'key' AS kind FROM objects
          |  WHERE bucket = 'src3' AND object > 'en/'
          |  ORDER BY entry LIMIT 51
          |) UNION ALL SELECT * FROM (
          |  SELECT 4 AS rid, entry, kind FROM (
          |    SELECT object AS entry, 'key' AS kind FROM objects
          |    WHERE bucket = 'src2' AND object >= 'es/' AND object < 'es0'
          |      AND object >= 'es/d20'
          |      AND regexp_matches(object, '^es/[^/]*$')
          |    UNION ALL
          |    SELECT DISTINCT regexp_extract(object, '^(es/[^/]*/).*$', 1),
          |           'prefix'
          |    FROM objects
          |    WHERE bucket = 'src2' AND object >= 'es/' AND object < 'es0'
          |      AND object >= 'es/d20'
          |      AND regexp_extract(object, '^(es/[^/]*/).*$', 1) <> ''
          |  ) ORDER BY entry LIMIT 26
          |) ORDER BY rid, entry""".stripMargin,
        Tables.objectsSql)),
      doc = "meta.clj:285-290 per-request params as one join plan (batched D1)"),

    "d1_list_nodelim_marker" -> QueryDef(
      (s, d) =>
        Listing.entries(Tables.objects(s, d), "src3",
          ListParams(marker = Some("en/"), maxKeys = 50)),
      Some(withCtes(
        """SELECT object AS entry, 'key' AS kind FROM objects
          |WHERE bucket = 'src3' AND object > 'en/'
          |ORDER BY entry LIMIT 51""".stripMargin,
        Tables.objectsSql)),
      doc = "meta.clj:153-173 marker pagination, no delimiter"),

    // ---- A6: range scan with inc_prefix upper bound ---------------------
    "a6_range_scan" -> QueryDef(
      (s, d) =>
        Tables.objects(s, d)
          .filter(col("bucket") === "src2" &&
            col("object") >= "es/" &&
            col("object") < GraftFunctions.incPrefix(lit("es/")))
          .select("object", "size", "checksum")
          .orderBy("object").limit(25),
      Some(withCtes(
        """SELECT object, size, checksum FROM objects
          |WHERE bucket = 'src2' AND object >= 'es/' AND object < 'es0'
          |ORDER BY object LIMIT 25""".stripMargin,
        Tables.objectsSql)),
      doc = "meta.clj:153-173 + util.clj:35-41 inc-prefix bound"),

    // ---- A7: point fetch -----------------------------------------------
    "a7_point_fetch" -> QueryDef(
      (s, d) => Tables.objects(s, d)
        .filter(col("bucket") === "src1" && col("inode") === 1L)
        .select("bucket", "object", "size", "checksum")
        .limit(1),
      Some(withCtes(
        """SELECT bucket, object, size, checksum FROM objects
          |WHERE bucket = 'src1' AND inode = 1 LIMIT 1""".stripMargin,
        Tables.objectsSql)),
      doc = "meta.clj:175-181 fetch by PK"),

    // ---- A2/A3: bucket scans -------------------------------------------
    "a2_bucket_tenant_scan" -> QueryDef(
      (s, d) => Tables.buckets(s, d)
        .filter(col("tenant") === "tenant_src7")
        .orderBy("bucket"),
      Some(withCtes(
        """SELECT bucket, tenant, n_docs FROM buckets
          |WHERE tenant = 'tenant_src7' ORDER BY bucket""".stripMargin,
        Tables.bucketsSql)),
      doc = "bucket.clj:52-55 by-tenant secondary index scan"),

    // ---- C1: object→bucket broadcast join ------------------------------
    "c1_object_bucket_join" -> QueryDef(
      (s, d) => Tables.objects(s, d)
        .join(broadcast(Tables.buckets(s, d)), "bucket")
        .groupBy("tenant")
        .agg(count(lit(1)).as("n_objects"), sum("size").as("total_size"))
        .orderBy("tenant"),
      Some(withCtes(
        """SELECT tenant, count(*) AS n_objects, CAST(sum(size) AS BIGINT) AS total_size
          |FROM objects JOIN buckets USING (bucket)
          |GROUP BY tenant ORDER BY tenant""".stripMargin,
        Tables.objectsSql, Tables.bucketsSql)),
      doc = "desc.clj:59-133 region/ACL resolve — broadcast hash join"),

    // ---- C3: multi-delete semi/anti join -------------------------------
    "c3_multi_delete_semi" -> QueryDef(
      (s, d) => {
        val objs = Tables.objects(s, d)
        val keyList = Tables.documents(s, d)
          .filter(col("doc_id") < 40)
          .select(col("source").as("bucket"), col("doc_id").as("inode"))
        objs.join(broadcast(keyList), Seq("bucket", "inode"), "left_semi")
          .select("bucket", "object")
          .orderBy("bucket", "object")
      },
      Some(withCtes(
        """SELECT bucket, object FROM objects
          |WHERE EXISTS (SELECT 1 FROM documents
          |              WHERE source = bucket AND doc_id = inode AND doc_id < 40)
          |ORDER BY bucket, object""".stripMargin,
        Tables.objectsSql)),
      doc = "operations.clj:451-465 POST ?delete — left-semi join"),

    // ---- C2/D3: multipart parts validation join + size accumulation ----
    "c2_parts_validation" -> QueryDef(
      (s, d) => {
        val stored = Tables.parts(s, d)
        val client = stored.filter(col("partno") <= 4)
          .select(col("upload"), col("partno"),
            col("checksum").as("client_checksum"))
        client.join(stored, Seq("upload", "partno"))
          .filter(col("checksum") === col("client_checksum"))
          .groupBy("upload")
          .agg(count(lit(1)).as("n_parts"), sum("size").as("total_size"))
          .filter(col("upload") <= 5000)
          .orderBy("upload")
      },
      Some(withCtes(
        """SELECT p.upload AS upload, count(*) AS n_parts,
          |       CAST(sum(p.size) AS BIGINT) AS total_size
          |FROM parts p
          |JOIN (SELECT upload, partno, checksum FROM parts WHERE partno <= 4) c
          |  ON p.upload = c.upload AND p.partno = c.partno
          | AND p.checksum = c.checksum
          |GROUP BY p.upload HAVING p.upload <= 5000 ORDER BY upload""".stripMargin,
        Tables.partsSql)),
      doc = "operations.clj:755-763 CompleteMultipartUpload ETag check"),

    // ---- D4: emptiness / existence check (anti join) --------------------
    "d4_empty_check_anti" -> QueryDef(
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
        .limit(200),
      Some(
        """SELECT c_custkey FROM customer
          |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
          |ORDER BY c_custkey LIMIT 200""".stripMargin),
      doc = "operations.clj:229-241 bucket-empty guard — anti join form"),

    // ---- I-S2: multipart assembly offset rebase (window function) ------
    "is2_offset_rebase" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("upload").orderBy("partno")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.parts(s, d)
          .withColumn("g_offset", coalesce(sum("size").over(w), lit(0L)))
          .filter(col("upload") <= 2000)
          .select("upload", "partno", "size", "g_offset")
          .orderBy("upload", "partno")
      },
      Some(withCtes(
        """SELECT upload, partno, size,
          |       CAST(COALESCE(sum(size) OVER (
          |         PARTITION BY upload ORDER BY partno
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS g_offset
          |FROM parts WHERE upload <= 2000
          |ORDER BY upload, partno""".stripMargin,
        Tables.partsSql)),
      doc = "stream.clj:209-244 global-offset rebasing as running-sum window"),

    // ---- H1: inc_prefix as a Catalyst expression ------------------------
    "h1_inc_prefix" -> QueryDef(
      (s, d) =>
        Tables.objects(s, d)
          .select(regexp_extract(col("object"), "^([^/]*/).*$", 1).as("prefix"))
          .filter(col("prefix") =!= "").distinct()
          .withColumn("upper_bound", GraftFunctions.incPrefix(col("prefix")))
          .orderBy("prefix"),
      Some(withCtes(
        """SELECT DISTINCT regexp_extract(object, '^([^/]*/).*$', 1) AS prefix,
          |  left(regexp_extract(object, '^([^/]*/).*$', 1),
          |       length(regexp_extract(object, '^([^/]*/).*$', 1)) - 1)
          |  || chr(ord(right(regexp_extract(object, '^([^/]*/).*$', 1), 1)) + 1)
          |    AS upper_bound
          |FROM objects
          |WHERE regexp_extract(object, '^([^/]*/).*$', 1) <> ''
          |ORDER BY prefix""".stripMargin,
        Tables.objectsSql)),
      doc = "util.clj:35-41 successor string — custom Expression"),

    // ---- D3: size accumulation over chunks ------------------------------
    "d3_size_sum" -> QueryDef(
      (s, d) => Tables.chunks(s, d)
        .groupBy("inode")
        .agg(sum("chunksize").as("total_size"), count(lit(1)).as("n_chunks"))
        .orderBy("inode"),
      Some(withCtes(
        """SELECT inode, CAST(sum(chunksize) AS BIGINT) AS total_size, count(*) AS n_chunks
          |FROM chunks GROUP BY inode ORDER BY inode""".stripMargin,
        Tables.chunksSql)),
      doc = "stream.clj:127 size fold = sum(chunksize) group by inode"),

    // ---- A12/B7/F1: block list scan, single-column projection ----------
    "a12_block_scan" -> QueryDef(
      (s, d) => BlobOps.blockList(Tables.chunks(s, d), 7L),
      Some(withCtes(
        """SELECT DISTINCT block FROM chunks WHERE inode = 7 ORDER BY block""",
        Tables.chunksSql)),
      doc = "blob.clj:99-106 ordered block offsets, projection to :block"),

    // ---- F3/B6: byte-range chunk crop ----------------------------------
    "f3_range_read" -> QueryDef(
      (s, d) => {
        // Range request bytes [40, 200) over every inode: keep overlapping
        // chunks, crop boundary chunk payloads (stream.clj:37-64).
        val start = 40L; val end = 200L
        Tables.chunks(s, d)
          .filter(col("offset") < end && (col("offset") + col("chunksize")) > start)
          .select(col("inode"), col("offset"),
            expr(s"substring(payload, greatest(0L, $start - offset) + 1, " +
              s"least(chunksize, $end - offset) - greatest(0L, $start - offset))")
              .as("cropped"))
          .orderBy("inode", "offset")
      },
      Some(withCtes(
        """SELECT inode, "offset",
          |  substr(payload,
          |    CAST(greatest(0, 40 - "offset") + 1 AS INT),
          |    CAST(least(chunksize, 200 - "offset") - greatest(0, 40 - "offset") AS INT)) AS cropped
          |FROM chunks
          |WHERE "offset" < 200 AND "offset" + chunksize > 40
          |ORDER BY inode, "offset"""".stripMargin,
        Tables.chunksSql)),
      doc = "stream.clj:27-64 within-range? + crop-chunk"),

    // ---- G2: keys minus prefix-members (except) -------------------------
    "g2_keys_except" -> QueryDef(
      (s, d) => {
        val objs = Tables.objects(s, d).filter(col("bucket") === "src4")
        val all = objs.select("object")
        val claimed = objs
          .filter(col("object").rlike("^(en/[^/]*/).*$"))
          .select("object")
        all.except(claimed).orderBy("object")
      },
      Some(withCtes(
        """SELECT object FROM objects WHERE bucket = 'src4'
          |EXCEPT
          |SELECT object FROM objects
          |WHERE bucket = 'src4' AND regexp_matches(object, '^(en/[^/]*/).*$')
          |ORDER BY object""".stripMargin,
        Tables.objectsSql)),
      doc = "meta.clj:239 remove prefixes from keys — EXCEPT")
  )
}
