package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}
import graft.operators.Listing

/** The input tables a DuckDB view set exposes: name -> parquet glob. */
object Views {
  val All: Seq[String] = ("region nation customer supplier part orders " +
    "lineitem events documents embeddings").split(' ').toSeq
  def of(dir: String, names: Seq[String] = All,
      glob: String = ""): Map[String, String] =
    names.map(t => t -> s"$dir/$t.parquet$glob").toMap
}

/** Registry operations, named by the module whose code they exercise. */
object Registry {
  lazy val queries = SparkEntry.queries
  lazy val oracles = SparkEntry.oracleSql

  def module(name: String, family: String): String = family match {
    case "meta" if name.startsWith("d1_list") => "operators.listing"
    case "sources" if name.contains("casv2") => "sources.casv2"
    case "sources" => "sources.store"
    case "policy" => "operators.policy"
    case "errors" => "operators.errors"
    case "blob" => "operators.blob"
    case "corpus" if name.startsWith("dd_") => "operators.dedup"
    case "corpus" if name.startsWith("sim_") => "operators.similarity"
    case "corpus" if name.startsWith("tx_") => "operators.textops"
    case f => s"queries.$f"
  }

  def op(name: String, family: String, dir: String, spark: SparkSession,
      kind: String = "read"): Op = {
    val fn = queries(name)
    Op(name, kind, module(name, family), name,
      () => Some(fn(spark, dir)))
  }
}

/** Metadata requests: a seeded mix of S3-shaped requests over the
  * sf0.1-shaped inputs. Every round issues each request once, in a seeded
  * order: registry operations from the meta, sources, ops, render,
  * errors, scalar, blob and policy families (including the
  * versioned-commit writes) and a seeded sweep of ListObjects calls. The
  * mix is uniform by choice, not weighted after observed traffic. */
final class MetaRequests(spark: SparkSession, inputs: String, seed: Long)
    extends Workload {
  val families: Seq[(String, Seq[String])] = Seq(
    "meta" -> Seq("d1_list_prefixes", "d1_list_page_truncated",
      "a7_point_fetch"),
    "sources" -> Seq("a4_upsert_versioned", "a9_delete_versioned",
      "src_casv2_listing", "src_casv2_paging"),
    "ops" -> Seq("c5_keystore_lookup"),
    "render" -> Seq("a19_list_all_buckets"),
    "errors" -> Seq("err_render"),
    "scalar" -> Seq("h5_digest_suite"),
    "blob" -> Seq("d2_chunked_md5_stream"),
    "policy" -> Seq("j1_acl_check", "j7_sigv4_verify"))
  val writes = Set("a4_upsert_versioned", "a9_delete_versioned")
  /** Whole-table digests over every document: not one request's work, so
    * they count in wall_s but not in the read latency. */
  val batch = Set("h5_digest_suite", "d2_chunked_md5_stream")
  private def kind(n: String) =
    if (writes(n)) "write" else if (batch(n)) "batch" else "read"

  /** The ListObjects sweep: a fixed set of request shapes (prefix kind,
    * delimiter, marker kind, maxKeys), so every seed asks for the same
    * kinds of page; the seed picks bucket, language, directory and marker
    * key. Keys look like `lang/d<k>/doc_<id6>.txt`. */
  val sweep: Seq[(String, Listing.ListParams)] = {
    val rnd = new Random(seed)
    val langs = Seq("de", "en", "es", "fr", "zh")
    // (prefix: 0 none, 1 lang/, 2 lang/dk/, 3 lang/dk/doc_00;
    //  delimiter; marker: 0 none, 1 a key, 2 a common prefix; maxKeys)
    val shapes = Seq((0, true, 0, 1000), (2, false, 1, 10), (3, false, 0, 3),
      (1, true, 2, 1000), (2, true, 0, 1), (1, false, 1, 1000))
    shapes.map { case (pk, delim, mk, maxKeys) =>
      val bucket = s"src${rnd.nextInt(20)}"
      val lang = langs(rnd.nextInt(langs.size))
      val dk = s"$lang/d${rnd.nextInt(7)}/"
      val prefix = pk match {
        case 0 => None
        case 1 => Some(s"$lang/")
        case 2 => Some(dk)
        case _ => Some(s"${dk}doc_00")
      }
      val marker = mk match {
        case 0 => None
        case 1 => Some(f"${dk}doc_${rnd.nextInt(2500)}%06d.txt")
        case _ => Some(s"$lang/d${rnd.nextInt(3)}/")
      }
      bucket -> Listing.ListParams(prefix, if (delim) Some("/") else None,
        maxKeys, marker)
    }
  }

  private def listKey(i: Int) = s"list_objects#$i"

  val ops: Seq[Op] = families.flatMap { case (fam, names) =>
    names.map(n => Registry.op(n, fam, inputs, spark, kind(n)))
  } ++ sweep.zipWithIndex.map { case ((bucket, p), i) =>
    Op(listKey(i), "read", "operators.listing", listKey(i),
      () => Some(Listing.entries(Tables.objects(spark, inputs), bucket, p)))
  }

  def round(r: Int): Seq[Op] = new Random(seed * 1000003L + r).shuffle(ops)
  override def minRounds: Int = 3

  def checkSpec(key: String): Map[String, Any] =
    if (key.startsWith("list_objects#")) {
      val (bucket, p) = sweep(key.stripPrefix("list_objects#").toInt)
      Map("check" -> "listing", "views" -> Views.of(inputs, Seq("documents")),
        "bucket" -> bucket, "prefix" -> p.prefix.getOrElse(""),
        "delimiter" -> p.delimiter.getOrElse(""),
        "marker" -> p.marker.getOrElse(""), "max_keys" -> p.maxKeys)
    } else Map("check" -> "oracle", "sql" -> Registry.oracles(key),
      "views" -> Views.of(inputs))
}

/** Corpus batch: a fixed sequence of the scale-dependent corpus queries
  * over a seeded disjoint-shard scale-up (SfSynth) of the inputs. */
final class CorpusBatch(spark: SparkSession, inputs: String, work: String,
    copies: Int) extends Workload {
  val corpus = s"$work/corpus"
  val names = Seq("dd_minhash_lsh", "dd_clusters", "dd_survivors",
    "sim_ivfpq", "sim_ivf_topk", "tx_bm25_topk", "tx_corpus_filter",
    "ds_prep_pipeline")
  val ops: Seq[Op] = names.map(n => Registry.op(n, "corpus", corpus, spark))

  override def prepare(): Unit =
    graft.SfSynth.ensure(spark, inputs, copies, corpus)
  def round(r: Int): Seq[Op] = ops
  override def minRounds: Int = 2
  def checkSpec(key: String): Map[String, Any] =
    Map("check" -> "oracle", "sql" -> Registry.oracles(key),
      "views" -> Views.of(corpus, Seq("documents", "embeddings", "events"),
        "/*.parquet"))
}
