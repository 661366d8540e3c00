package graft

import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Listing
import graft.operators.Listing.{ListParams, ListResult}

/** Model-based property tests for the ListObjects kernel (upgrading the
  * reference's table-driven cases, meta_test.clj:8-119): random key
  * sets and params are checked against an independent pure-Scala model
  * of the S3 listing semantics, and marker pagination must concatenate
  * to the one-shot listing. */
class ListingPropertySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // ---- independent reference model --------------------------------------

  private def model(keys: Seq[String], p: ListParams): Seq[(String, String)] = {
    val sorted = keys.distinct.sorted
    val pre = p.prefix.getOrElse("")
    val afterMarker = p.marker.filter(_.nonEmpty) match {
      case Some(m) if p.delimiter.filter(_.nonEmpty).exists(m.endsWith) =>
        sorted.filter(_ >= graft.functions.SuccessorString.inc(m))
      case Some(m) => sorted.filter(_ > m)
      case None => sorted
    }
    val scanned = afterMarker.filter(k =>
      pre.isEmpty || (k >= pre && k < graft.functions.SuccessorString.inc(pre)))
    p.delimiter.filter(_.nonEmpty) match {
      case None => scanned.map(_ -> "key")
      case Some(delim) =>
        val direct = scanned.filter { k =>
          k.startsWith(pre) && !k.stripPrefix(pre).contains(delim)
        }.map(_ -> "key")
        val groups = scanned.flatMap { k =>
          val rest = k.stripPrefix(pre)
          val i = rest.indexOf(delim)
          if (k.startsWith(pre) && i >= 0)
            Some(pre + rest.take(i + delim.length))
          else None
        }.distinct.map(_ -> "prefix")
        (direct ++ groups).sortBy(_._1)
    }
  }

  // ---- generators --------------------------------------------------------

  private val genKey: Gen[String] = for {
    depth <- Gen.choose(1, 3)
    segs <- Gen.listOfN(depth, Gen.oneOf("a", "b", "c", "ab"))
  } yield segs.mkString("/")

  private val genCase: Gen[(List[String], ListParams)] = for {
    keys <- Gen.listOfN(12, genKey)
    prefix <- Gen.oneOf(None, Some("a/"), Some("b"), Some("c/"))
    delim <- Gen.oneOf(None, Some("/"))
    maxKeys <- Gen.choose(1, 6)
  } yield (keys, ListParams(prefix, delim, maxKeys))

  private def cases(n: Int): Seq[(List[String], ListParams)] =
    (1 to n).map(i => genCase.pureApply(
      Gen.Parameters.default, rng.Seed(1234L + i)))

  private def df(keys: Seq[String]) =
    keys.distinct.map(("b1", _)).toDF("bucket", "object")

  // ---- properties ---------------------------------------------------------

  test("one page agrees with the pure model: content, order, truncation") {
    cases(15).foreach { case (keys, p) =>
      val want = model(keys, p)
      val got: ListResult = Listing.listObjects(df(keys), "b1", p)
      val wantPage = want.take(p.maxKeys)
      assert(got.keys == wantPage.collect { case (k, "key") => k },
        s"keys mismatch for $p over $keys")
      assert(got.prefixes == wantPage.collect { case (k, "prefix") => k }.toSet,
        s"prefixes mismatch for $p over $keys")
      assert(got.truncated == want.length > p.maxKeys,
        s"truncation mismatch for $p over $keys")
      assert(got.keys.size + got.prefixes.size <= p.maxKeys)
    }
  }

  test("multi-char delimiters: entries and entriesBatch agree with the model") {
    // The reference's char-class pattern construction degenerates for
    // delimiters longer than one character (meta.clj:204,217 —
    // `[^<delim>]` escapes only the first char); our substring
    // classification (Listing.scala) claims S3 semantics for ANY
    // delimiter and by-construction agreement between the one-shot and
    // batched forms. Exercise that claim: delimiters of length 2-3
    // (incl. 'ab' and 'xay') over keys whose alphabet makes partial
    // delimiter overlaps common.
    val genKeyM: Gen[String] = for {
      len <- Gen.choose(1, 6)
      cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'x', 'y'))
    } yield cs.mkString
    val genCaseM: Gen[(List[String], ListParams)] = for {
      keys <- Gen.listOfN(14, genKeyM)
      prefix <- Gen.oneOf(None, Some("a"), Some("xa"), Some("ab"))
      delim <- Gen.oneOf(Some("ab"), Some("xay"), Some("ba"))
      maxKeys <- Gen.choose(1, 8)
    } yield (keys, ListParams(prefix, delim, maxKeys))
    (1 to 15).foreach { i =>
      val (keys, p) = genCaseM.pureApply(
        Gen.Parameters.default, rng.Seed(9876L + i))
      val want = model(keys, p)
      val got: ListResult = Listing.listObjects(df(keys), "b1", p)
      val wantPage = want.take(p.maxKeys)
      assert(got.keys == wantPage.collect { case (k, "key") => k },
        s"keys mismatch for $p over $keys")
      assert(got.prefixes == wantPage.collect { case (k, "prefix") => k }.toSet,
        s"prefixes mismatch for $p over $keys")
      // the batched form must agree entry-for-entry (it emits each
      // request's first max_keys + 1 rows, like entries' limit)
      val req = Seq(
        (1L, "b1", p.prefix.getOrElse(""), p.delimiter.getOrElse(""),
          "", p.maxKeys))
        .toDF("rid", "bucket", "prefix", "delimiter", "marker", "max_keys")
      val batch = Listing.entriesBatch(df(keys), req)
        .orderBy("entry").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      assert(batch == want.take(p.maxKeys + 1),
        s"batch mismatch for $p over $keys: $batch vs $want")
    }
  }

  test("marker pagination concatenates to the one-shot listing") {
    cases(10).foreach { case (keys, p0) =>
      val oneShot = model(keys, p0).map(_._1)
      var marker: Option[String] = None
      var acc = Vector.empty[String]
      var pages = 0
      var done = false
      while (!done && pages < 50) {
        val r = Listing.listObjects(df(keys), "b1", p0.copy(marker = marker))
        val entries = (r.keys ++ r.prefixes).sorted
        acc ++= entries
        // marker monotonicity: every new entry is past the old marker
        marker.foreach(m => assert(entries.forall(_ > m)))
        if (r.truncated) marker = r.nextMarker else done = true
        pages += 1
      }
      assert(pages < 50, s"pagination did not terminate for $p0 over $keys")
      assert(acc == oneShot,
        s"page concat != one-shot for $p0 over $keys: $acc vs $oneShot")
    }
  }
}
