package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftFunctions, RollingHash, SuccessorString}

/** Scalar kernel unit tests (reference semantics:
  * util.clj / util_test.clj). */
class FunctionsSpec extends AnyFunSuite {

  test("inc_prefix bumps the last char; empty stays empty") {
    assert(SuccessorString.inc("") == "")
    assert(SuccessorString.inc("a") == "b")
    assert(SuccessorString.inc("foo/") == "foo0")
    assert(SuccessorString.inc("az") == "a{")
  }

  test("inc_prefix is an exclusive upper bound for the prefix range") {
    val pre = "foo/"
    val bound = SuccessorString.inc(pre)
    Seq("foo/", "foo/a", "foo/zzz", "foo/￿").foreach { k =>
      assert(k >= pre && k < bound, s"$k should be inside [$pre, $bound)")
    }
    Seq("foo0", "fop", "goo").foreach { k =>
      assert(k >= bound, s"$k should be outside")
    }
  }

  test("kmv_mins keeps the k smallest distinct values across partitions") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // values 0..999 shuffled with every value duplicated, over many
    // partitions so map-side partials and merge() both execute
    val vals = scala.util.Random.shuffle((0L until 1000L) ++ (0L until 1000L))
    val df = vals.toDF("h").repartition(16)
    val mins = df.agg(GraftFunctions.kmvMins(col("h"), 10)).as[Seq[Long]].head()
    assert(mins == (0L until 10L))
    // fewer than k distinct -> the whole distinct set, sorted
    val small = Seq(5L, 3L, 5L, 9L, 3L).toDF("h")
    assert(small.agg(GraftFunctions.kmvMins(col("h"), 10))
      .as[Seq[Long]].head() == Seq(3L, 5L, 9L))
    // grouped: per-group independent sketches
    val grouped = Seq(("a", 1L), ("a", 2L), ("b", 7L), ("b", 7L), ("b", 4L))
      .toDF("g", "h").groupBy("g")
      .agg(GraftFunctions.kmvMins(col("h"), 2).as("m"))
      .as[(String, Seq[Long])].collect().toMap
    assert(grouped("a") == Seq(1L, 2L) && grouped("b") == Seq(4L, 7L))
  }

  test("quoteRegex escapes every metacharacter") {
    val pat = GraftFunctions.quoteRegex("a.b*c[d]e(f)g{h}i?j+k^l$m|n\\o-p")
    val re = ("^" + pat + "$").r
    assert(re.findFirstIn("a.b*c[d]e(f)g{h}i?j+k^l$m|n\\o-p").isDefined)
    assert(re.findFirstIn("aXbXcXdXeXfXgXhXiXjXkXlXmXnXoXp").isEmpty)
  }

  test("key/prefix patterns implement direct-children semantics") {
    val kp = GraftFunctions.keyPattern("foo/", "/").r
    assert(kp.findFirstIn("foo/bar.txt").isDefined)
    assert(kp.findFirstIn("foo/sub/x.txt").isEmpty)
    val pp = GraftFunctions.prefixPattern("", "/").r
    assert(pp.findFirstMatchIn("foo/sub/x.txt").map(_.group(1))
      .contains("foo/"))
  }

  test("toBytes parses size literals") {
    assert(GraftFunctions.toBytes("128") == 128L)
    assert(GraftFunctions.toBytes("128k") == 128L * 1024)
    assert(GraftFunctions.toBytes("2G") == 2L << 30)
    assert(GraftFunctions.toBytes("1T") == 1L << 40)
    assertThrows[IllegalArgumentException](GraftFunctions.toBytes("x12"))
  }

  test("rolling hash is a wrapping base-31 polynomial over code points") {
    assert(RollingHash.hash("") == 0L)
    assert(RollingHash.hash("a") == 'a'.toLong)
    assert(RollingHash.hash("ab") == 'a'.toLong * 31 + 'b'.toLong)
    // multibyte code point handled as one value
    assert(RollingHash.hash("中") == 0x4e2dL)
  }

  test("interpol substitutes ${vars}") {
    assert(GraftFunctions.interpol("a/${filename}.x",
      Map("filename" -> "f1")) == "a/f1.x")
  }

  test("constantTimeEq compares correctly") {
    assert(GraftFunctions.constantTimeEq("abc", "abc"))
    assert(!GraftFunctions.constantTimeEq("abc", "abd"))
    assert(!GraftFunctions.constantTimeEq("abc", "ab"))
  }

  test("awsUriEncode keeps unreserved (and optionally slash)") {
    assert(GraftFunctions.awsUriEncode("/ሴ", keepSlash = true)
      == "/%E1%88%B4")
    assert(GraftFunctions.awsUriEncode("a b/c", keepSlash = false)
      == "a%20b%2Fc")
  }

  // The extension, not a register call, gives a session graft's SQL
  // surface: a child session resolves every function and the registry
  // builders that use them build and run there as they are.
  test("a newSession() of an extension-built session resolves every " +
      "graft function and builds the queries that use them") {
    val s = TestSpark.spark.newSession()
    val names = GraftFunctions.builders.map(_._1)
    assert(names.size == 18)
    names.foreach(n => assert(s.catalog.functionExists(n), n))
    Seq("sim_ivfpq", "dd_minhash_lsh", "d1_list_prefixes").foreach { q =>
      val df = SparkEntry.registry(q).fn(s, "/root/testdata/sf0.01")
      assert(df.sparkSession eq s)
      Measure.materialize(df)
    }
  }

  test("register installs the surface on a session that lacks it, once") {
    val s = TestSpark.spark.newSession()
    val reg = s.sessionState.functionRegistry
    val names = GraftFunctions.builders.map(_._1)
    names.foreach(n => reg.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(!names.exists(s.catalog.functionExists))
    GraftFunctions.register(s)
    names.foreach(n => assert(s.catalog.functionExists(n), n))
    assert(s.sql("SELECT inc_prefix('foo/') AS p").head().getString(0) ==
      "foo0")
    GraftFunctions.register(s) // already there: returns at once
  }
}
