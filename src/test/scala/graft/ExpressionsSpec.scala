package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.operators.TextOps

/** Native Catalyst expressions vs their higher-order-function
  * formulations: bit-identical results required. */
class ExpressionsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("ldot equals aggregate(zip_with(*)) on long arrays") {
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (Seq(-7L, 0L, 9L), Seq(2L, 11L, -3L)),
      (Seq.empty[Long], Seq.empty[Long])
    ).toDF("a", "b")
    val r = df.select(
      GraftFunctions.ldot($"a", $"b").as("fast"),
      aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0L),
        (acc, v) => acc + v).as("slow"))
      .as[(Long, Long)].collect()
    r.foreach { case (fast, slow) => assert(fast == slow) }
    assert(r.head == ((32L, 32L)))
  }

  test("ldot is null on mismatched lengths (ragged vectors drop out)") {
    val df = Seq((Seq(1L, 2L, 3L), Seq(1L, 2L))).toDF("a", "b")
    val r = df.select(GraftFunctions.ldot($"a", $"b").as("d"))
      .collect().head
    assert(r.isNullAt(0))
  }

  test("shingle_hashes equals explode+xxhash64+collect_set pipeline") {
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a a a a"),     // repeated shingles collapse
      (3L, "x y"),         // shorter than w -> empty
      (4L, "one two three")
    ).toDF("id", "text")
    val fused = docs.select($"id",
      GraftFunctions.shingleHashes(TextOps.tokens($"text"), 3).as("hs"))
    val reference = docs.select($"id", TextOps.tokens($"text").as("w"))
      .select($"id", explode(TextOps.ngrams($"w", 3)).as("shingle"))
      .select($"id", xxhash64($"shingle").as("sh"))
      .groupBy("id").agg(sort_array(collect_set($"sh")).as("hs"))
    val f = fused.filter(size($"hs") > 0).as[(Long, Seq[Long])].collect().toMap
    val r = reference.as[(Long, Seq[Long])].collect().toMap
    assert(f == r)
    assert(!f.contains(3L))
  }

  test("simhash60 of a single token reproduces the md5-derived bit pattern") {
    def h60(tok: String): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        dig.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15), 16)
    }
    val df = Seq((1L, "hello"), (2L, "world")).toDF("id", "tok")
    val got = df.select($"id",
        GraftFunctions.simhash60(array($"tok")).as("sig"))
      .as[(Long, Long)].collect().toMap
    // single token: sums(j) = +1 where bit j of h set, else -1 → sig == h
    assert(got(1L) == h60("hello"))
    assert(got(2L) == h60("world"))
  }

  test("simhash60 dedupes repeated tokens and is order-insensitive") {
    val df = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("c", "b", "a", "a", "b"))
    ).toDF("id", "toks")
    val got = df.select($"id", GraftFunctions.simhash60($"toks").as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == got(2L))
  }

  test("simhash60 skips null array elements instead of throwing") {
    val df = Seq(
      (1L, Seq("a", null, "b")),
      (2L, Seq("a", "b"))
    ).toDF("id", "toks")
    val got = df.select($"id", GraftFunctions.simhash60($"toks").as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == got(2L))
  }

  test("sorted_intersect_count equals size(array_intersect)") {
    val df = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 9L, 11L)),
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq.empty[Long], Seq(1L))
    ).toDF("a", "b")
    val r = df.select(
      GraftFunctions.sortedIntersectCount($"a", $"b").as("fast"),
      size(array_intersect($"a", $"b")).cast("long").as("slow"))
      .as[(Long, Long)].collect()
    r.foreach { case (fast, slow) => assert(fast == slow) }
    assert(r.map(_._1).toSeq == Seq(2L, 0L, 0L))
  }

  test("pq_codes equals the array_min(transform(...)) HOF spelling, " +
      "ties to the smaller position") {
    // random-ish but deterministic vectors + a codebook with a
    // deliberate exact tie (two identical entries) to pin first-wins
    val dim = 16
    val m = 4
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 30L).map(i =>
      (i, Seq.fill(dim)(rnd.nextInt(21).toLong - 10L)))
    val cbv = (0L until 7L).map(c =>
      (c, Seq.fill(dim)(rnd.nextInt(21).toLong - 10L)))
    // entry 5 duplicates entry 2: any vector nearest to it must code
    // the SMALLER position
    val cb = cbv.updated(5, (5L, cbv(2)._2))
    val df = cb.toDF("cid", "cv").agg(
      array_sort(collect_list(struct($"cid", $"cv"))).as("_cb"))
      .crossJoin(vecs.toDF("id", "v"))
    val subDim = dim / m
    def subD2(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column,
        mm: org.apache.spark.sql.Column) =
      aggregate(zip_with(slice(a, mm * subDim + 1, lit(subDim)),
        slice(b, mm * subDim + 1, lit(subDim)),
        (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x)
    val hof = transform(sequence(lit(0), lit(m - 1)), mm =>
      array_min(transform(sequence(lit(1), size($"_cb")), p =>
        struct(subD2($"v", element_at($"_cb", p).getField("cv"), mm)
          .as("d2"), p.as("p")))
        .cast("array<struct<d2:bigint,p:int>>")).getField("p"))
    val r = df.select($"id",
      GraftFunctions.pqCodes($"v", $"_cb", m).cast("string").as("fast"),
      hof.cast("string").as("slow"))
      .as[(Long, String, String)].collect()
    r.foreach { case (id, fast, slow) =>
      assert(fast == slow, s"id $id: $fast != $slow") }
    // the duplicated entry never wins a code slot (first-minimum tie)
    val codes = df.select(explode(
      GraftFunctions.pqCodes($"v", $"_cb", m))).as[Int].collect()
    assert(!codes.contains(6), "tie resolved to the larger position")
  }
}
