package graft

import org.scalatest.funsuite.AnyFunSuite

/** XML render surface: every rendered response body must parse as
  * well-formed XML with the expected root and key structure — the
  * oracle proves cross-engine equality, this proves the XML itself
  * (two engines agreeing on a malformed string would still hash-match). */
class RenderSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  private def xmls(query: String): Seq[String] = {
    SparkEntry.queries(query)(spark, sf)
      .select("xml").as[String].collect().toSeq
  }

  test("every render query emits well-formed XML with the right root") {
    val roots = Map(
      "a19_list_all_buckets" -> "ListAllMyBucketsResult",
      "a19_initiate_multipart" -> "InitiateMultipartUploadResult",
      "a19_list_multipart_uploads" -> "ListMultipartUploadsResult",
      "a19_list_parts" -> "ListPartsResult",
      "a19_upload_part_copy" -> "CopyPartResult",
      "a19_complete_multipart" -> "CompleteMultipartUploadResult",
      "a19_copy_object" -> "CopyObjectResult",
      "a19_delete_result" -> "DeleteResult",
      "a19_xml_render" -> "ListBucketResult")
    roots.foreach { case (q, root) =>
      val bodies = xmls(q)
      assert(bodies.nonEmpty, q)
      bodies.foreach { x =>
        val parsed = scala.xml.XML.loadString(x)
        assert(parsed.label == root, s"$q: ${parsed.label}")
      }
    }
  }

  test("bucket-config renders parse with per-config roots") {
    val rows = SparkEntry.queries("a19_bucket_config")(spark, sf)
      .select("config", "xml").as[(String, String)].collect()
    val want = Map("location" -> "LocationConstraint",
      "lifecycle" -> "LifecycleConfiguration",
      "requestpayment" -> "RequestPaymentConfiguration",
      "versioning" -> "VersioningConfiguration")
    assert(rows.map(_._1).toSet == want.keySet)
    rows.foreach { case (c, x) =>
      assert(scala.xml.XML.loadString(x).label == want(c), c)
    }
  }

  test("complete-multipart etag has the multipart digest-count form") {
    val bodies = xmls("a19_complete_multipart")
    bodies.foreach { x =>
      val etag = (scala.xml.XML.loadString(x) \ "ETag").text
      assert(etag.matches("\"[0-9a-f]{32}-\\d+\""), etag)
    }
  }

  test("list renders nest entries under the right elements") {
    val lp = scala.xml.XML.loadString(xmls("a19_list_parts").head)
    assert((lp \ "Part").nonEmpty)
    assert((lp \ "Part" \ "PartNumber").nonEmpty)
    val lab = scala.xml.XML.loadString(xmls("a19_list_all_buckets").head)
    assert((lab \ "Buckets" \ "Bucket" \ "Name").nonEmpty)
    val dr = scala.xml.XML.loadString(xmls("a19_delete_result").head)
    assert((dr \ "Deleted" \ "Key").nonEmpty)
  }
}
