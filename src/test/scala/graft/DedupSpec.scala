package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Dedup kernels on a tiny corpus with one planted near-dup pair and
  * one planted exact dup. */
class DedupSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  val base = "the quick brown fox jumps over the lazy dog again and again " +
    "until the sun goes down over the quiet hills tonight"
  val docs = Seq(
    (0L, base),
    (1L, base + " slightly changed"),               // near-dup of 0
    (2L, "completely different words all over here my friend nothing alike"),
    (3L, base),                                     // exact dup of 0
    (4L, "short text")
  ).toDF("doc_id", "text")

  test("shingles produce n-2 trigrams, none for short docs") {
    val counts = Dedup.shingleSets(docs, "doc_id", "text")
      .select("id", "n").as[(Long, Long)].collect().toMap
    val n0 = base.trim.split("\\s+").length
    assert(counts(0L) <= n0 - 2) // distinct may collapse repeats
    assert(!counts.contains(4L)) // 2 tokens -> no trigram
  }

  test("native minhash_sig matches the exploded groupBy-min signature " +
      "(all 32 columns, incl. negative raw hashes)") {
    val k = 32
    val sets = Dedup.shingleSets(docs, "doc_id", "text")
    val native = Dedup.minhashSignatureSets(sets, k)
    val reference = Dedup.minhashSignature(
      sets.select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.col("hs")).as("sh")), k)
    val n = native.orderBy("id").collect()
    val r = reference.orderBy("id").collect()
    assert(n.length == r.length && n.nonEmpty)
    n.zip(r).foreach { case (a, b) =>
      (0 to k).foreach(i => assert(a.getLong(i) == b.getLong(i),
        s"col $i differs for id ${a.getLong(0)}"))
    }
    // raw xxhash64 shingle hashes are frequently negative — pin that
    // the kernel's pmod matches Spark's on at least one such input
    val anyNegative = sets
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.col("hs")).as("sh"))
      .filter(org.apache.spark.sql.functions.col("sh") < 0)
      .limit(1).count()
    assert(anyNegative == 1L, "fixture produced no negative hash; " +
      "the pmod branch is untested")
  }

  test("exact dedup collapses identical normalized content") {
    val r = Dedup.exact(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect()
    val dupGroup = r.filter(_._3 == 2)
    assert(dupGroup.length == 1 && dupGroup.head._2 == 0L)
    assert(r.length == 4) // 5 docs, one pair collapsed
  }

  test("prefix-filtered Jaccard join finds the planted pairs exactly") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs == Set((0L, 1L), (0L, 3L), (1L, 3L)))
  }

  test("jaccardPairs keeps pairs at the exact threshold boundary (J == t)") {
    // doc 20 = 37 distinct words -> 35 trigrams; doc 21 = its first 30
    // words -> 28 trigrams, all shared: J = 28/35 = 0.8 exactly. A
    // double-arithmetic ceil(0.8*35) mis-rounds to 29 and prunes this
    // pair; the integer-exact bounds must keep it.
    val words = (1 to 37).map(i => s"w$i")
    val boundary = Seq(
      (20L, words.mkString(" ")),
      (21L, words.take(30).mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(boundary, "doc_id", "text", 0.8)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((20L, 21L)))
    assert(math.abs(pairs.head._3 - 0.8) < 1e-12)
  }

  test("minhash-LSH with verification agrees with exact join at 0.8") {
    val got = Dedup.minhashDedup(docs, "doc_id", "text", 0.8)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    val want = Dedup.jaccardPairs(docs, "doc_id", "text", 0.8)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(got == want)
    assert(want.contains((0L, 3L))) // identical docs always survive
  }

  test("components labels near-dup clusters by min id, singletons by self") {
    val pairs = Seq((0L, 1L), (1L, 3L), (7L, 8L)).toDF("i", "j")
    val ids = (0L to 8L).toDF("id")
    val labels = Dedup.components(ids, pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels(0L) == 0L && labels(1L) == 0L && labels(3L) == 0L)
    assert(labels(7L) == 7L && labels(8L) == 7L)
    assert(Seq(2L, 4L, 5L, 6L).forall(i => labels(i) == i))
  }

  test("components converges on a chain (diameter > 1)") {
    // chain 10-11-12-13-14 needs several propagation rounds
    val pairs = (10L to 13L).map(i => (i, i + 1)).toDF("i", "j")
    val ids = (10L to 14L).toDF("id")
    val labels = Dedup.components(ids, pairs)
      .as[(Long, Long)].collect().toMap
    assert((10L to 14L).forall(i => labels(i) == 10L))
  }

  test("components ignores pair endpoints outside ids (label containment)") {
    // pair (0, 5) references id 0 that is NOT in ids: it must not become
    // a canonical label (a downstream join on the label would silently
    // drop the cluster); (5, 6) still clusters normally
    val pairs = Seq((0L, 5L), (5L, 6L)).toDF("i", "j")
    val ids = (5L to 7L).toDF("id")
    val labels = Dedup.components(ids, pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("components converges in O(log diameter) rounds (pointer jumping)") {
    // a 200-node chain: plain propagation needs ~200 rounds; with
    // pointer jumping 16 must be plenty (log2(200) ≈ 7.6 + slack) — the
    // maxIter budget doubles as the round-count assertion, because
    // components refuses to return unconverged labels
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("i", "j")
    val ids = (0L to 199L).toDF("id")
    val labels = Dedup.components(ids, pairs, maxIter = 16)
      .as[(Long, Long)].collect().toMap
    assert((0L to 199L).forall(i => labels(i) == 0L))
  }

  test("lineDedup keeps a repeated line only at its first occurrence") {
    // doc 0 owns both lines; doc 1 repeats 0's header (cross-doc dup)
    // and the body of its OWN line 0 (within-doc dup); doc 2 repeats a
    // line it states twice (first copy survives); doc 3 is all blanks.
    val docs = Seq(
      (0L, "Shared Header.\nUnique body zero."),
      (1L, "Shared Header.\nOwn line one.\nOwn line one."),
      (2L, "  \nFresh line two.\nFresh line two.\n"),
      (3L, " \n\n  ")
    ).toDF("doc_id", "text")
    val r = Dedup.lineDedup(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4))).toMap
    assert(r(0L)._1 == 2 && r(0L)._2 == 2)
    assert(r(1L)._1 == 3 && r(1L)._2 == 1) // header + 2nd copy dropped
    assert(r(2L)._1 == 2 && r(2L)._2 == 1) // blanks excluded, 1st copy kept
    assert(r(3L) == ((0L, 0L, "d41d8cd98f00b204e9800998ecf8427e")))
    // reconstruction hash: doc 1 keeps exactly "Own line one."
    def m(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(r(1L)._3 == m("Own line one."))
    assert(r(0L)._3 == m("Shared Header.\nUnique body zero."))
  }

  test("substringDups finds repeated 5-token windows and their runs") {
    // docs 0 and 1 share a 6-token phrase -> two overlapping duplicated
    // 5-token windows each, in one consecutive run of length 2; doc 2
    // has no 5-token window at all; doc 3 repeats ITS OWN phrase.
    val phrase = "the quick brown fox jumps over"
    val docs = Seq(
      (0L, phrase + " a lazy dog today"),
      (1L, "yesterday " + phrase + " nothing else"),
      (2L, "too short here"),
      (3L, "alpha beta gamma delta epsilon zeta and then " +
        "alpha beta gamma delta epsilon zeta")
    ).toDF("doc_id", "text")
    val r = Dedup.substringDups(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4, x._5))).toMap
    // doc 0: 10 tokens -> 6 windows; windows at pos 0,1 are shared with doc 1
    assert(r(0L)._1 == 6 && r(0L)._2 == 2 && r(0L)._3 == 2)
    // doc 1: 9 tokens -> 5 windows; shared windows sit at pos 1,2
    assert(r(1L)._1 == 5 && r(1L)._2 == 2 && r(1L)._3 == 2)
    assert(r(2L) == ((0L, 0L, 0L, 0.0)))
    // doc 3: 14 tokens -> 10 windows; "alpha..zeta" (6 toks) repeats ->
    // windows at pos 0,1 == windows at pos 8,9: 4 dup positions, runs
    // of 2 and 2
    assert(r(3L)._1 == 10 && r(3L)._2 == 4 && r(3L)._3 == 2)
    assert(math.abs(r(3L)._4 - 4.0 / 10.0) < 1e-12)
  }

  test("incrementalDedup flags cross-split near-dups only, with canon id") {
    val other = "completely different words all over here my friend " +
      "nothing alike at all today"
    val index = Seq((0L, base), (2L, "some indexed but unrelated " +
      "content sits here quietly minding its own business")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + " slightly changed"), // near-dup of index doc 0
      (11L, other),                      // within-batch dup of 13 ONLY
      (12L, base),                       // exact dup of index doc 0
      (13L, other)                       // within-batch dup of 11 ONLY
    ).toDF("doc_id", "text")
    val r = Dedup.incrementalDedup(index, batch, "doc_id", "text", 0.5)
      .select("id", "n_dups", "canon_id", "is_dup")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(r(0) == ((10L, 1L, 0L, 1L)))
    // within-batch duplicates are NOT the incremental pass's job
    assert(r(1) == ((11L, 0L, -1L, 0L)))
    assert(r(2) == ((12L, 1L, 0L, 1L)))
    assert(r(3) == ((13L, 0L, -1L, 0L)))
  }

  test("bloomProbe flags exactly the train docs sharing a held-out 5-gram") {
    val heldOut = Seq(
      (100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      // contains the held-out window "alpha beta gamma delta epsilon"
      (0L, "prefix words alpha beta gamma delta epsilon and more tail"),
      (1L, "completely unrelated text about storage engines and files"),
      (2L, "tiny doc") // < 5 tokens -> zero grams, never flagged
    ).toDF("doc_id", "text")
    val r = Dedup.bloomProbe(train, heldOut, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // no false negatives: the shared-window doc MUST be flagged
    assert(r(0)._4 == 1L && r(0)._3 >= 1L)
    // (3 set-positions / 16384)^3 FP odds — the clean docs stay clean
    assert(r(1) == ((1L, 4L, 0L, 0L)))
    assert(r(2) == ((2L, 0L, 0L, 0L)))
  }

  test("containment: a quoted short doc is caught; symmetric Jaccard " +
      "would miss it") {
    val corpus = Seq(
      // doc 1 is doc 0's text quoted wholesale inside a longer page
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "header menu line alpha beta gamma delta epsilon zeta " +
        "plus a long unrelated tail of many extra words here at the end"),
      (2L, "completely different content about storage engines")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(corpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    // 0 fully contained in 1 (containment 1.0); nothing else qualifies
    assert(got.map(p => (p._1, p._2)) == Seq((0L, 1L)))
    assert(got.head._3 == 1.0)
    // and the symmetric Jaccard of the same pair is far below 0.5 —
    // the regime the asymmetric operator exists for
    val jac = Dedup.jaccardPairs(corpus, "doc_id", "text", 0.5)
    assert(jac.count() == 0L)
  }

  test("simhash: identical docs at distance 0, near-dups close, others far") {
    val sig = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sig(0L) == sig(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(0L), sig(1L)) < ham(sig(0L), sig(2L)))
    val pairs = Dedup.simhashPairs(Dedup.simhash(docs, "doc_id", "text"))
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs.contains((0L, 3L)))
  }

  // A caller's checkpointed shingle sets are read as handed in: caching
  // them again would hold the batch's sets twice during the probe.
  test("crossSplitPairsIndexed and jaccardPairs cache only the shingle " +
      "sets they derive themselves") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val index = docs.filter($"doc_id" < 3)
    val batch = docs.filter($"doc_id" >= 3)
    val iSets = Dedup.shingleSets(index, "doc_id", "text").localCheckpoint(true)
    val iBands = Dedup.bandTable(Dedup.minhashSignatureSets(iSets, 32), 16, 2)
      .localCheckpoint(true)
    val bSets = Dedup.shingleSets(batch, "doc_id", "text").localCheckpoint(true)
    def cachedIn(run: => Unit): Seq[InMemoryRelation] =
      Measure.executions(spark)(run)._2.flatMap(_.optimizedPlan.collect {
        case r: InMemoryRelation => r
      })
    def wrapsBSets(r: InMemoryRelation) =
      r.cacheBuilder.logicalPlan.sameResult(bSets.queryExecution.analyzed)
    var pairs = Set.empty[(Long, Long)]
    val handedIn = cachedIn {
      pairs = Dedup.crossSplitPairsIndexed(iBands, iSets, batch, "doc_id",
        "text", 0.5, precomputedSets = Some(bSets))
        .select($"i", $"j").as[(Long, Long)].collect().toSet
    } ++ cachedIn {
      Dedup.jaccardPairs(batch, "doc_id", "text", 0.5,
        precomputedSets = Some(bSets)).collect(); ()
    }
    assert(pairs.contains((0L, 3L)))
    assert(!handedIn.exists(wrapsBSets), handedIn.mkString("\n"))
    // without sets handed in, the function caches the ones it shingles
    assert(cachedIn {
      Dedup.crossSplitPairsIndexed(iBands, iSets, batch, "doc_id", "text",
        0.5).collect(); ()
    }.nonEmpty)
  }
}
