package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.queries.SimilarityQueries

/** Similarity kernels: quantized-int exactness and top-k ordering. */
class SimilaritySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.01"

  val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // closest to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f)),  // opposite of 0
    (4L, Array(0.5f, 0.5f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("quantized dot/norm are exact integers") {
    val prep = Similarity.prepared(vecs, "vec_id", "embedding")
    val n2 = prep.select("id", "n2").as[(Long, Long)].collect().toMap
    assert(n2(0L) == 10000L * 10000L)
    assert(n2(4L) == 2L * 5000L * 5000L)
  }

  test("topK ranks by cosine desc with id tiebreak") {
    val prep = Similarity.prepared(vecs, "vec_id", "embedding")
    val r = Similarity.topK(prep, prep.filter($"id" === 0L), 4)
      .select("nid", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(r.map(_._1).toSeq == Seq(1L, 4L, 2L, 3L))
  }

  test("nearDupPairs finds only pairs above threshold") {
    val prep = Similarity.prepared(vecs, "vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(prep, 0.99)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L))) // cos(0,1) = 0.9/sqrt(0.82) ≈ 0.9939
    val loose = Similarity.nearDupPairs(prep, 0.7)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(loose.contains((0L, 1L)) && loose.contains((1L, 4L)))
    assert(!loose.contains((0L, 3L)))
  }

  test("nearest_cell matches the HOF array_min spelling incl. edge cases") {
    import org.apache.spark.sql.functions._
    // centroids: cid-sorted; cid 2 ties cid 3 in distance (tie → smaller
    // cid); cid 9 is ragged (len 2) and must be skipped by both forms
    val rows = Seq(
      (0L, Array(10L, 0L, 0L)),
      (1L, Array(0L, 10L, 0L)),
      (2L, Array(5L, 5L, 0L)),   // equidistant from cids 2 and 3
      (3L, Array(-7L, -7L, 1L))
    ).toDF("id", "qv")
    val cents = Seq(
      (2L, Array(10L, 0L, 0L)),
      (3L, Array(0L, 10L, 0L)),
      (9L, Array(1L, 1L))
    ).toDF("cid", "cv")
      .withColumn("cn2", expr("ldot(cv, cv)"))
    val centArr = cents.agg(array_sort(
      collect_list(struct(col("cid"), col("cv"), col("cn2")))).as("_cents"))
    val both = rows.crossJoin(broadcast(centArr))
      .withColumn("native", expr("nearest_cell(qv, _cents)"))
      .withColumn("hof",
        // null-filtered HOF argmin: ragged centroids (null ldot → null
        // d2) are dropped, matching nearest_cell's documented skip
        array_min(filter(transform(col("_cents"), c => struct(
          expr("ldot(qv, qv)") + c.getField("cn2") -
            lit(2L) * graft.functions.GraftFunctions.ldot(
              col("qv"), c.getField("cv")),
          c.getField("cid")))
          .cast("array<struct<d2:bigint,cid:bigint>>"),
          s => s.getField("d2").isNotNull)).getField("cid"))
      .select("id", "native", "hof").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(both.forall { case (_, n, h) => n == h })
    assert(both.map(x => x._1 -> x._2).toMap ==
      Map(0L -> 2L, 1L -> 3L, 2L -> 2L, 3L -> 2L))
    // all-skipped (every centroid ragged) → null
    val empty = rows.limit(1).crossJoin(broadcast(
        Seq((9L, Array(1L, 1L))).toDF("cid", "cv")
          .withColumn("cn2", expr("ldot(cv, cv)"))
          .agg(array_sort(collect_list(
            struct(col("cid"), col("cv"), col("cn2")))).as("_cents"))))
      .select(expr("nearest_cell(qv, _cents)")).collect()
    assert(empty.head.isNullAt(0))
  }

  test("pq_luts / adc_sum match the interpreted HOF spellings " +
      "(transform-of-transform subD2 tables; aggregate-zip_with " +
      "element_at sum), incl. the 1-based code positions") {
    val m = 4
    val dim = 8
    val subDim = dim / m
    // deterministic ragged-free vectors + a 3-entry codebook
    val rows = (0L until 6L).map { i =>
      (i, Array.tabulate(dim)(d => (i * 37 + d * 11) % 23 - 7))
    }.toDF("id", "qv")
    val cb = rows.filter($"id" < 3)
      .agg(array_sort(collect_list(
        struct($"id".as("cid"), $"qv".as("cv")))).as("_cb"))
    def subD2(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column,
        mm: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      aggregate(
        zip_with(slice(a, mm * subDim + 1, lit(subDim)),
          slice(b, mm * subDim + 1, lit(subDim)),
          (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)
    val both = rows.crossJoin(broadcast(cb))
      .withColumn("native",
        graft.functions.GraftFunctions.pqLuts($"qv", $"_cb", m))
      .withColumn("hof",
        transform(sequence(lit(0), lit(m - 1)), mm =>
          transform($"_cb", e => subD2($"qv", e.getField("cv"), mm))))
      .withColumn("codes",
        graft.functions.GraftFunctions.pqCodes($"qv", $"_cb", m))
      .withColumn("nativeSum",
        graft.functions.GraftFunctions.adcSum($"codes", $"native"))
      .withColumn("hofSum",
        aggregate(zip_with($"codes", $"hof",
          (c, lut) => element_at(lut, c)),
          lit(0L), (acc, x) => acc + x))
    val got = both.select("id", "native", "hof", "nativeSum", "hofSum")
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Seq[Long]](1) == r.getSeq[Seq[Long]](2),
        s"lut mismatch for id ${r.getLong(0)}")
      assert(r.getLong(3) == r.getLong(4),
        s"adc mismatch for id ${r.getLong(0)}")
    }
    // a vector of its own codebook: distance to itself is 0 in every
    // subspace, so the adc_sum through its own codes is 0
    val self = rows.filter($"id" === 1L).crossJoin(broadcast(cb))
      .select(graft.functions.GraftFunctions.adcSum(
        graft.functions.GraftFunctions.pqCodes($"qv", $"_cb", m),
        graft.functions.GraftFunctions.pqLuts($"qv", $"_cb", m)))
      .collect().head.getLong(0)
    assert(self == 0L)
    // m not dividing dim → null luts (HOF would misalign; documented)
    val bad = rows.limit(1).crossJoin(broadcast(cb))
      .select(graft.functions.GraftFunctions.pqLuts($"qv", $"_cb", 3))
      .collect().head
    assert(bad.isNullAt(0))
  }

  test("IVF ANN probes cells and ranks by exact cosine") {
    val embs = (0L until 60L).map { i =>
      (i, Array.tabulate(64)(d =>
        (math.cos(i * 0.37 + d * 0.11) + (if (i % 3 == 0) 0.8 else -0.8)).toFloat))
    }.toDF("vec_id", "embedding")
    val r = Similarity.ivfTopK(embs, "vec_id", "embedding", 3,
      queryLimit = 8L, nList = 8, nProbe = 3)
      .select("qid", "nid", "rank").as[(Long, Long, Int)].collect()
    assert(r.nonEmpty)
    assert(r.forall { case (q, n, _) => q < 8L && q != n })
    assert(r.groupBy(_._1).forall(_._2.length <= 3))
    // deterministic: same plan, same result
    val r2 = Similarity.ivfTopK(embs, "vec_id", "embedding", 3,
      queryLimit = 8L, nList = 8, nProbe = 3)
      .select("qid", "nid", "rank").as[(Long, Long, Int)].collect()
    assert(r.sortBy(x => (x._1, x._3)).toSeq == r2.sortBy(x => (x._1, x._3)).toSeq)
  }

  test("ivfAssign at nList=1024 matches an independent argmin (sf0.1)") {
    // The SemDedup recipe sizes nList ≈ √n — the broadcast-centroid
    // form must stay CORRECT (not just plannable) at wide nList.
    // Independent oracle: an explicit corpus×centroids join + struct
    // min aggregate, a completely different plan from the in-row
    // argmin over the broadcast array.
    import org.apache.spark.sql.functions._
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val prep = Similarity.prepared(embs, "vec_id", "embedding").cache()
    try {
      val cents = Similarity.refinedCentroids(prep, 1024, 0)
      val got = Similarity.ivfAssign(prep, cents)
        .as[(Long, Long)].collect().toMap
      val want = prep.crossJoin(cents)
        .select(col("id"), struct(
          (col("n2") + col("cn2") -
            lit(2L) * graft.functions.GraftFunctions
              .ldot(col("qv"), col("cv"))).as("d2"),
          col("cid")).as("dc"))
        .groupBy("id").agg(min(col("dc")).as("m"))
        .select(col("id"), col("m.cid"))
        .as[(Long, Long)].collect().toMap
      assert(got.size == want.size && got == want)
    } finally { val _ = prep.unpersist() }
  }

  test("semDedup at nList=1024 matches a brute within-cell check (sf0.1)") {
    // The full SemDedup composition at the recipe's own nList scale
    // (1024 ≈ sqrt-ish of the 2000-vector sf0.1 corpus, with one Lloyd
    // iteration through the broadcast-centroid path): the kept set must
    // equal an independent formulation — explicit join+min assignment
    // and a plain within-cell self-join drop rule, no Skew tiling, no
    // broadcast array.
    import org.apache.spark.sql.functions._
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val t = 0.85
    val got = Similarity
      .semDedup(embs, "vec_id", "embedding", t, nList = 1024, refineIters = 1)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    val prep = Similarity.prepared(embs, "vec_id", "embedding").cache()
    try {
      val cents = Similarity.refinedCentroids(prep, 1024, 1)
      val assign = prep.crossJoin(cents)
        .select(col("id"), struct(
          (col("n2") + col("cn2") - lit(2L) * graft.functions.GraftFunctions
            .ldot(col("qv"), col("cv"))).as("d2"),
          col("cid")).as("dc"))
        .groupBy("id").agg(min(col("dc")).as("m"))
        .select(col("id"), col("m.cid").as("cid"))
      val a = prep.join(assign, "id")
      val dropped = a.as("x").join(a.as("y"),
          col("x.cid") === col("y.cid") && col("x.id") < col("y.id"))
        .filter(Similarity.cosine(
          graft.functions.GraftFunctions.ldot(col("x.qv"), col("y.qv")),
          col("x.n2"), col("y.n2")) >= t)
        .select(col("y.id")).distinct().as[Long].collect().toSet
      assert(got.size == 2000)
      got.foreach { case (id, kept) =>
        assert(kept == !dropped.contains(id), s"vec $id") }
    } finally { val _ = prep.unpersist() }
  }

  test("IVF Lloyd refinement keeps integer centroids and determinism") {
    val embs = (0L until 60L).map { i =>
      (i, Array.tabulate(64)(d =>
        (math.cos(i * 0.37 + d * 0.11) + (if (i % 3 == 0) 0.8 else -0.8)).toFloat))
    }.toDF("vec_id", "embedding")
    def run() = Similarity.ivfTopK(embs, "vec_id", "embedding", 3,
      queryLimit = 8L, nList = 8, nProbe = 3, refineIters = 2)
      .select("qid", "nid", "rank").as[(Long, Long, Int)].collect()
      .sortBy(x => (x._1, x._3)).toSeq
    val r = run()
    assert(r.nonEmpty && r.forall { case (q, n, _) => q < 8L && q != n })
    assert(r == run()) // refinement is exactly reproducible
    // refined centroids are still exact int64 vectors
    val prep = Similarity.prepared(embs, "vec_id", "embedding")
    val cents0 = prep.filter($"id" < 8)
      .select($"id".as("cid"), $"qv".as("cv"), $"n2".as("cn2"))
    val c1 = Similarity.lloydStep(prep, cents0)
    assert(c1.schema("cv").dataType.simpleString == "array<bigint>")
    assert(c1.count() == 8) // empty cells keep their previous centroid
  }

  test("SRP-LSH ANN returns ranked neighbors for every id with collisions") {
    val embs = (0L until 40L).map { i =>
      (i, Array.tabulate(64)(d =>
        (math.sin(i * 0.7 + d) + (if (i % 2 == 0) 1.0 else -1.0)).toFloat))
    }.toDF("vec_id", "embedding")
    val r = Similarity.annLsh(embs, "vec_id", "embedding", 3)
      .select("qid", "rank").as[(Long, Int)].collect()
    assert(r.nonEmpty)
    assert(r.groupBy(_._1).forall(_._2.length <= 3))
  }

  test("nearDupPairsBlocked is a subset of exact pairs and keeps true dups") {
    val embs = (0L until 30L).map { i =>
      // ids 7 and 8 are near-identical (cos ≈ 1); the rest spread out
      val base = if (i == 8L) 7L else i
      (i, Array.tabulate(16)(d =>
        (math.sin(base * 0.9 + d * 0.6) + (if (i == 8L) 1e-4 else 0.0)).toFloat))
    }.toDF("vec_id", "embedding")
    val blocked = Similarity.nearDupPairsBlocked(
      embs, "vec_id", "embedding", 0.9, dim = 16)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val exact = Similarity.nearDupPairs(
      Similarity.prepared(embs, "vec_id", "embedding"), 0.9)
      .select("i", "j").as[(Long, Long)].collect().toSet
    // blocking only ever drops pairs (recall < 1), never invents them
    assert(blocked.subsetOf(exact))
    // a near-identical pair collides in every band — always kept
    assert(blocked.contains((7L, 8L)))
  }

  test("PQ/ADC encodes to nearest codebook entries and ranks by LUT sums") {
    // dim 4, two 2-dim subspaces, codebook = vectors 0 and 1.
    // 2 duplicates 0 exactly; 3 is near 0 and lands on 0's codes in both
    // subspaces; 4 lands on 1's codes. For query 0 the ADC distances are
    // 0, 0, 4e8, 4e8 -> rank ties break by nid.
    val pv = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f, 0.1f, 0.9f)),
      (4L, Array(0.0f, 1.0f, 0.9f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.pqTopK(pv, "vec_id", "embedding", 4,
        queryLimit = 1L, m = 2, ksub = 2, dim = 4)
      .select("nid", "ad2", "rank").as[(Long, Long, Int)].collect()
      .sortBy(_._3)
    assert(r.map(_._1).toSeq == Seq(2L, 3L, 1L, 4L))
    assert(r.map(_._2).toSeq == Seq(0L, 0L, 400000000L, 400000000L))
  }

  test("SQ8: codes stay in [0,255], bounds reconstruct exactly, and " +
      "neighbor order matches brute force on well-separated vectors") {
    // dim=4 vectors, well separated so byte quantization cannot flip
    // the neighbor ORDER even though distances are approximate
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.5f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.sqTopK(e, "vec_id", "embedding", 3,
        queryLimit = 1L, dim = 4)
      .select("nid", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(r.map(_._1).toSeq == Seq(1L, 2L, 3L)) // L2 order from vec 0
    // a vector AT a dimension's corpus bound reconstructs exactly:
    // code 0 at lo, code 255 at hi -> ad2 contribution 0
    val prep = Similarity.prepared(e, "vec_id", "embedding")
    val codes = prep.crossJoin(broadcast(Similarity.sqRanges(prep)))
      .select(col("id"), expr(
        """zip_with(qv, _rng, (x, r) ->
          |  IF(r.hi > r.lo, ((x - r.lo) * 255L) div (r.hi - r.lo), 0L))"""
          .stripMargin).as("codes"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(codes.values.flatten.forall(c => c >= 0L && c <= 255L))
    assert(codes(0L).head == 255L) // 1.0 is dim-0's corpus max
    assert(codes(3L).head == 0L)   // -1.0 is dim-0's corpus min
  }

  test("MMR picks the most relevant first, then trades redundancy for " +
      "coverage") {
    // query 0 = (1,0). Candidates 1 and 2 are identical long vectors
    // aligned with the query (relevance 1.2e8 each, mutual dot
    // 1.44e8 > relevance); 3 is orthogonal (relevance 0, redundancy 0).
    // Pure relevance ranks (1, 2, 3) — with 1 before 2 only by the id
    // tie-break, which this also pins. MMR at lambda=1/2 scores 2 at
    // 1.2e8 − 1.44e8 < 0 after picking 1, so the orthogonal 3 (score
    // 0) displaces the duplicate: (1, 3, 2).
    val e = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.2f, 0.0f)),
      (2L, Array(1.2f, 0.0f)),
      (3L, Array(0.0f, 0.5f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(e, "vec_id", "embedding",
        k = 3, poolN = 3, queryLimit = 1L)
      .select("nid", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(got.map(_._1).toSeq == Seq(1L, 3L, 2L))
  }

  /** An IVF-PQ index over `prep` trained here, in the form
    * `Models.ivfPqIndex` serves: `(centroids, codebook rows, codes)`. */
  private def trainedIvfPq(prep: DataFrame, nList: Int, iters: Int,
      m: Int, ksub: Int, dim: Int) = {
    val cents = Similarity.refinedCentroids(prep, nList, iters)
    val res = Similarity.ivfPqResiduals(prep, cents)
    val cbRows = res.filter(col("id") < ksub)
      .select(col("id").as("cid"), col("rv").as("cv"))
    (cents, cbRows, Similarity.ivfPqCodes(res, cbRows, m, ksub, dim))
  }

  test("ivfPqSweep: full-probe + full-rerank arm recovers exact " +
      "ground truth (recall 1.0)") {
    val prep = Similarity.prepared(vecs, "vec_id", "embedding")
    val sweep = SimilarityQueries.ivfPqSweep(vecs,
        Seq(2 -> trainedIvfPq(prep, nList = 2, iters = 1, m = 3, ksub = 2,
          dim = 3)),
        k = 2, queryLimit = 2L, nProbes = Seq(1, 2), reranks = Seq(0, 4),
        m = 3, dim = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) ->
        r.getDouble(4)).toMap
    assert(sweep.size == 4)
    assert(sweep.values.forall(r => r >= 0.0 && r <= 1.0))
    // probing every cell with a shortlist covering every candidate and
    // exact re-ranking IS brute force — recall must be exactly 1
    assert(sweep((2, 2, 4)) == 1.0, s"$sweep")
    // monotone in nProbe at fixed (ksub, rerank): more probed cells can
    // only add candidates
    assert(sweep((1, 2, 4)) <= sweep((2, 2, 4)))
  }

  // The sweep scores each index once at its widest nProbe and derives
  // every narrower arm by `probe_rank <= nProbe`: pinned against the
  // table scored at that nProbe directly, on the persisted indexes the
  // registry query audits.
  test("the sweep's probe_rank slices equal the ADC tables scored at " +
      "each nProbe") {
    val prep = Similarity.prepared(Tables.embeddings(spark, sf), "vec_id",
      "embedding").filter(size(col("qv")) === 64).cache()
    try for (ksub <- Seq(16, 256)) {
      val (cents, cbRows, codes) =
        graft.sources.Models.ivfPqIndex(spark, sf, ksub = ksub)
      def scored(nProbe: Int, probeRank: Boolean) = Similarity
        .ivfPqAdcScored(prep, cents, cbRows, codes, 10L, nProbe, 8,
          probeRank)
      val widest = scored(16, probeRank = true)
      for (nProbe <- Seq(4, 8, 16)) {
        val nested = widest.filter(col("probe_rank") <= nProbe)
          .drop("probe_rank")
        val direct = scored(nProbe, probeRank = false)
        val n = direct.count()
        assert(n > 0 && nested.count() == n, s"ksub=$ksub nProbe=$nProbe")
        assert(nested.exceptAll(direct).isEmpty &&
          direct.exceptAll(nested).isEmpty, s"ksub=$ksub nProbe=$nProbe")
        if (nProbe < 16) assert(n < widest.count(), "slice is not narrower")
      }
    } finally { prep.unpersist(); () }
  }

  test("sim_ivfpq_sweep materializes one ADC table per index") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import scala.jdk.CollectionConverters._
    val adc = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // one SQL execution per checkpoint, carrying its job description
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          "similarity:sim_ivfpq_sweep:adc_\\w+".r
            .findFirstIn(s.description).foreach(adc.add); ()
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    // the recorder drains the shared bus queue both listeners sit on
    val (_, rec) = try Measure.recorded(spark)(
        SparkEntry.queries("sim_ivfpq_sweep")(spark, sf))
      finally sc.removeSparkListener(listener)
    assert(adc.asScala.toSeq.sorted == Seq(
      "similarity:sim_ivfpq_sweep:adc_ksub16",
      "similarity:sim_ivfpq_sweep:adc_ksub256"), adc.asScala.toSeq)
    assert(rec.jobs.values.exists(_._1.contains(":adc_ksub256")),
      "the recorder saw no ADC job")
  }

  test("rpTopK: a corpus-covering shortlist IS brute force") {
    // rerank >= corpus: the reduced space only orders the shortlist,
    // which covers everything — the exact rerank must return the true
    // top-k regardless of projection distortion
    val got = Similarity.rpTopK(vecs, "vec_id", "embedding", k = 2,
      queryLimit = 2L, kDim = 4, rerank = 10, dim = 3)
      .select("qid", "nid", "rank").as[(Long, Long, Int)]
      .collect().sortBy(r => (r._1, r._3)).toSeq
    val prep = Similarity.prepared(vecs, "vec_id", "embedding")
    val want = Similarity.exactL2TopK(prep, 2, 2L)
      .select("qid", "nid").as[(Long, Long)].collect()
      .toSeq
    assert(got.map(r => (r._1, r._2)).sorted == want.sorted)
  }

  test("SRP-LSH ANN excludes ragged and null vectors from the index") {
    val good = (0L until 20L).map { i =>
      (i, Array.tabulate(16)(d => math.sin((i + d).toDouble).toFloat))
    }
    val ragged = Seq(
      (100L, Array(1.0f, 2.0f)),            // wrong dimension
      (101L, null.asInstanceOf[Array[Float]])) // null vector
    val embs = (good ++ ragged).toDF("vec_id", "embedding")
    val r = Similarity.annLsh(embs, "vec_id", "embedding", 3)
      .select("qid", "nid").as[(Long, Long)].collect()
    assert(r.nonEmpty)
    assert(r.forall { case (q, n) => q < 100L && n < 100L })
  }

  // The materialization step's two duties, observed from outside: every
  // job a builder starts (checkpoints, Lloyd steps, hot-bucket counts)
  // carries a job description, and the caches it takes are released by
  // the time it returns its DataFrame.
  test("builders describe every job they start and leave no cache entry") {
    val sc = spark.sparkContext
    val cache = spark.sharedState.cacheManager
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        descs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
        ()
      }
    }
    // the bus delivers in order: once a marker job's start arrives,
    // every earlier job's has
    def mark(m: String): Unit = {
      sc.setJobDescription(m)
      try spark.range(1).collect() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000L
      while (!descs.contains(m) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(descs.contains(m), s"listener bus never delivered $m")
    }
    import scala.jdk.CollectionConverters._
    sc.addSparkListener(listener)
    try {
      for (name <- Seq("sim_ivf_topk", "sim_ivfpq", "dd_minhash_lsh",
          "tx_bm25_topk")) {
        spark.catalog.clearCache()
        mark(s"before $name")
        SparkEntry.queries(name)(spark, sf)
        assert(cache.isEmpty, s"$name left a cache entry behind")
        mark(s"after $name")
        val seen = descs.asScala.toSeq.dropWhile(_ != s"before $name")
          .drop(1).takeWhile(_ != s"after $name")
        assert(seen.nonEmpty, s"$name started no job while building")
        assert(seen.forall(_.nonEmpty),
          s"$name started undescribed jobs: ${seen.distinct}")
      }
    } finally sc.removeSparkListener(listener)
  }
}
