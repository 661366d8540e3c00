package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.QueryDef.withCtes
import graft.functions.GraftFunctions
import graft.operators.BlobOps

/** Blob-dataflow operator demos (SURVEY.md §2.D2/D3, I-S1, GC). Oracle
  * for the checksum ops is DuckDB's `md5(text)` on the un-chunked
  * document — proving chunk-split → ordered reassembly → digest is
  * byte-faithful. */
object BlobQueries {

  val defs: Map[String, QueryDef] = Map(

    // D2 scale path: repartition+sortWithinPartitions streaming digest.
    "d2_chunked_md5_stream" -> QueryDef(
      (s, d) => BlobOps.checksums(Tables.chunks(s, d)).orderBy("inode"),
      Some(
        """SELECT doc_id AS inode, md5(text) AS checksum
          |FROM documents ORDER BY inode""".stripMargin),
      doc = "util.clj:16-33 + stream.clj:114-135 running digest, " +
        "constant-memory mapPartitions path"),

    // D2 aggregate path: custom TypedImperativeAggregate.
    "d2_chunked_md5_agg" -> QueryDef(
      (s, d) =>
        Tables.chunks(s, d)
          .groupBy("inode")
          .agg(GraftFunctions.chunkedMd5(col("offset"), col("payload"))
            .as("checksum"))
          .orderBy("inode"),
      Some(
        """SELECT doc_id AS inode, md5(text) AS checksum
          |FROM documents ORDER BY inode""".stripMargin),
      doc = "util.clj:16-33 as order-insensitive TypedImperativeAggregate"),

    // Orphan-block GC: anti-join against live inode set.
    "gc_orphan_blocks" -> QueryDef(
      (s, d) => {
        val chunks = Tables.chunks(s, d)
        val live = Tables.objects(s, d)
          .filter(col("inode") % 10 =!= 0) // simulate deleted objects
          .select("inode")
        BlobOps.orphanBlocks(chunks, live)
          .groupBy("inode")
          .agg(count(lit(1)).as("n_chunks"), sum("chunksize").as("bytes"))
          .orderBy("inode")
      },
      Some(withCtes(
        """SELECT inode, count(*) AS n_chunks,
          |       CAST(sum(chunksize) AS BIGINT) AS bytes
          |FROM chunks WHERE inode % 10 = 0
          |GROUP BY inode ORDER BY inode""".stripMargin,
        Tables.chunksSql)),
      doc = "concepts.rst:96-100 acknowledged orphan leak → set-based GC")
  )
}
