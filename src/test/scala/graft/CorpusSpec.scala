package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextOps}

/** Corpus-preparation operators: repetition signals, deterministic
  * splits, token sharding, SemDedup. */
class CorpusSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("ngrams and duplicate-ngram ratio") {
    val df = Seq("a b a b c", "a", "x x x x").toDF("text")
      .select(TextOps.tokens(col("text")).as("w"))
      .select(
        TextOps.ngrams(col("w"), 2).as("bg"),
        TextOps.dupNgramRatio(col("w"), 2).as("r2"),
        TextOps.dupNgramRatio(col("w"), 3).as("r3"),
        TextOps.uniqWordRatio(col("w")).as("uniq"))
    val rows = df.collect()
    // "a b a b c": bigrams [a b, b a, a b, b c] -> 1 dup of 4
    assert(rows(0).getSeq[String](0) == Seq("a b", "b a", "a b", "b c"))
    assert(rows(0).getDouble(1) == 0.25)
    // single token: no bigrams -> ratio 0, not null (sequence guard)
    assert(rows(1).getSeq[String](0).isEmpty)
    assert(rows(1).getDouble(1) == 0.0 && rows(1).getDouble(2) == 0.0)
    // "x x x x": bigrams all equal -> 2/3 dup; uniq words 1/4
    assert(math.abs(rows(2).getDouble(1) - 2.0 / 3.0) < 1e-15)
    assert(rows(2).getDouble(3) == 0.25)

    // equivalence pin: ngrams is the one window spelling, and equals the
    // array_join(slice(w, i, n), " ") windows the Bloom probe and the
    // substring dedup built before it, on adversarial documents
    val adversarial = Seq(
      "中文 分词 测试 中文 分词 测试",                  // CJK
      "cafe\u0301 nai\u0308ve re\u0301sume\u0301 cafe\u0301", // combining
      "\ud835\udc9c \ud83d\ude00 \ud835\udc9c x \ud83d\ude00", // non-BMP
      "", "   ", "\t \n ", "solo", "\tlead tab", "Mixed CASE mixed case",
      "p", "p q", "p q r", "p q r s", "p q r s t")     // exactly n tokens
    val w = col("w")
    val docs = adversarial.toDF("text")
      .select(col("text"), TextOps.tokens(col("text")).as("w"))
    for (n <- 1 to 5) {
      val sliced = when(size(w) >= n,
        transform(sequence(lit(1), size(w) - (n - 1)),
          i => array_join(slice(w, i, lit(n)), " ")))
        .otherwise(typedLit(Seq.empty[String]))
      val got = docs.select(col("text"), TextOps.ngrams(w, n), sliced)
        .collect()
      assert(got.length == adversarial.length)
      got.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"n=$n text=${r.getString(0)}")
      }
      // exactly n tokens: one window, the whole document
      assert(got.exists(r => r.getSeq[String](1) ==
        Seq(Seq("p", "q", "r", "s", "t").take(n).mkString(" ")) &&
        r.getString(0).split(" ").length == n), s"n=$n")
    }
  }

  test("tx_pii_scrub redacts emails and IPv4s, counted and hashed") {
    // run the registered query's expressions over synthetic PII by
    // writing a tiny documents table to a temp dir
    val dir = java.nio.file.Files.createTempDirectory("pii").toString
    Seq(
      (0L, "mail me at jane.doe+x@example.co.uk or ping 10.0.0.1 now",
        "en", "s1", 55L),
      (1L, "no pii in this document at all", "en", "s1", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = queries.TextQueries.defs("tx_pii_scrub").fn(spark, dir)
      .as[(Long, Int, Int, String)].collect().sortBy(_._1)
    assert(out(0)._2 == 1 && out(0)._3 == 1)
    val scrubbed = "mail me at <EMAIL> or ping <IP> now"
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(scrubbed.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0)._4 == md, s"scrubbed hash ${out(0)._4}")
    assert(out(1)._2 == 0 && out(1)._3 == 0)
  }

  test("C4 line and page gates (terminal punct, 5 words, 3 lines, braces)") {
    val page = Seq(
      "This line has five good words.",   // kept
      "Too short.",                       // < 5 words
      "No terminal punctuation here at all", // bad ending
      "Does this question line count too?",  // kept (?)
      "Yes exclamations are terminal marks too!" // kept (!)
    ).mkString("\n")
    val df = Seq(
      (0L, page),                              // 3 kept -> page keep
      (1L, page + "\nlorem ipsum dolor."),     // lorem ipsum -> drop
      (2L, page + "\nfunction f() { return; }"), // brace -> drop
      (3L, "One good sentence stands alone here.") // 1 kept < 3 -> drop
    ).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        TextOps.c4KeptLines(col("text")).as("kept"))
      .select(col("doc_id"), col("kept"),
        TextOps.c4PageKeep(col("text"), col("kept")).as("keep"))
    val rows = df.collect().map(r =>
      r.getLong(0) -> ((r.getSeq[String](1), r.getBoolean(2)))).toMap
    assert(rows(0L)._1 == Seq(
      "This line has five good words.",
      "Does this question line count too?",
      "Yes exclamations are terminal marks too!"))
    assert(rows(0L)._2)
    assert(!rows(1L)._2 && !rows(2L)._2 && !rows(3L)._2)
    assert(rows(3L)._1.length == 1)
  }

  test("quality-model inference matches a pure-JVM replay of the chain") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h60(s: String) = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    def expected(text: String): (Long, Long, Double) = {
      val toks = text.trim.toLowerCase.split("\\s+").toSeq
      val feats = toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      val wsum = feats.map { f =>
        h60("w:" + (h60(f) % TextOps.QmBuckets).toString) %
          TextOps.QmWeightRange - 1000L
      }.sum
      (feats.size.toLong, wsum, wsum.toDouble / (feats.size * 1000L).toDouble)
    }
    val texts = Seq(
      (0L, "The quick brown fox jumps over the lazy dog"),
      (1L, "one"),
      (2L, "  spaced   out   tokens  "))
    val got = TextOps.qmScored(texts.toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    for ((id, t) <- texts) {
      val (en, ew, es) = expected(t)
      assert(got(id) == ((en, ew, es)), s"doc $id")
    }
    // a 9-token doc has 9 unigrams + 8 bigrams
    assert(got(0L)._1 == 17L)
  }

  test("exact quantiles: type-1 picks at integer thresholds") {
    val df = ((1 to 100).map(v => ("a", v.toLong)) ++
      Seq(("b", 5L), ("b", 5L), ("b", 5L), ("b", 7L))).toDF("source", "v")
    val r = operators.Profile.quantiles(df, "source", "v", Seq(25, 50, 90, 99))
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(x => x._1 -> x).toMap
    // uniform 1..100: p-th percentile is exactly p
    assert(r("a") == (("a", 100L, 1L, 100L, 25L, 50L, 90L, 99L)))
    // n=4 with ties: thresholds ceil(p*4/100) = 1,2,4,4 -> 5,5,7,7
    assert(r("b") == (("b", 4L, 5L, 7L, 5L, 5L, 7L, 7L)))
  }

  test("tx_cms_counts: estimates never undercount (CMS guarantee)") {
    val r = graft.queries.TextQueries.defs("tx_cms_counts").fn(spark, sf)
      .select("tok", "exact", "cms_est")
      .as[(String, Long, Long)].collect()
    assert(r.length == 20)
    assert(r.forall { case (_, exact, est) => est >= exact })
  }

  test("lmPlan: Laplace bigram surprise matches hand computation") {
    import org.apache.spark.sql.functions._
    // train: "a b a b" -> c2(a,b)=2, c2(b,a)=1, c1(a)=2, c1(b)=1, V=2
    // test:  "a b c"   -> t(a,b)=log2(4)-log2(3), t(b,c)=log2(3)-log2(1)
    //                     mean = (2 - log2 3 + log2 3)/2 = exactly 1.0
    val docs = Seq(
      (0L, "00", Seq("a", "b", "a", "b")),
      (1L, "ff", Seq("a", "b", "c"))
    ).toDF("doc_id", "h", "w")
    val r = graft.queries.TextQueries.lmPlan(docs)
      .select("doc_id", "n_bi", "nll_bits", "decile", "bucket")
      .as[(Long, Long, Double, Long, String)].collect().sortBy(_._1).toSeq
    assert(r(0) == ((0L, 3L, 0.4717, 1L, "head")))
    assert(r(1) == ((1L, 2L, 1.0, 2L, "head")))
  }

  test("ds_split pins known md5 thresholds and is deterministic") {
    val out = queries.CorpusQueries.defs("ds_split").fn(spark, sf)
      .as[(Long, String)].collect().toMap
    // md5("0") = cfcd2084... -> 'cf' in [cc, e6) -> val
    // md5("1") = c4ca4238... -> 'c4' < 'cc'      -> train
    assert(out(0L) == "val")
    assert(out(1L) == "train")
    assert(Set("train", "val", "test").subsetOf(out.values.toSet))
    // train dominates at the documented ~80/10/10 proportions
    val n = out.size.toDouble
    val train = out.values.count(_ == "train") / n
    assert(train > 0.7 && train < 0.9, s"train fraction $train")
  }

  test("epochOrder: bucketed two-phase rank equals the global sort rank") {
    val docs = (0L until 200L).map(i => (i, s"doc $i text", "en", "s1", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = queries.CorpusQueries.epochOrder(docs, 3)
      .as[(Long, Long)].collect()
    // a permutation of 0..n-1 ...
    assert(out.map(_._2).sorted.toSeq == (0L until 200L))
    // ... equal to the rank under the global md5(epoch:id) sort
    val expected = (0L until 200L)
      .sortBy(i => (java.security.MessageDigest.getInstance("MD5")
        .digest(s"3:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString, i))
      .zipWithIndex.map { case (id, p) => id -> p.toLong }.toMap
    assert(out.forall { case (id, p) => expected(id) == p })
    // different epochs produce different permutations
    val e2 = queries.CorpusQueries.epochOrder(docs, 4)
      .as[(Long, Long)].collect().toMap
    assert(out.exists { case (id, p) => e2(id) != p })
  }

  test("ds_token_shards: exclusive prefix sum, per-source reset") {
    val out = queries.CorpusQueries.defs("ds_token_shards").fn(spark, sf)
      .as[(Long, String, Long, Long)].collect()
    // shard ids are the exclusive prefix sum div budget, so within each
    // source they are nondecreasing in doc_id order and start at 0
    out.groupBy(_._2).foreach { case (src, rows) =>
      val sorted = rows.sortBy(_._1)
      assert(sorted.head._4 == 0L, s"$src first shard")
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._4 <= b._4
        case _ => true
      }, s"$src nondecreasing")
      // replay the prefix sum exactly
      var cum = 0L
      sorted.foreach { case (_, _, tokens, shard) =>
        assert(shard == cum / queries.CorpusQueries.ShardBudget)
        cum += tokens
      }
    }
  }

  test("ds_pack_sequences tiles every source's token stream exactly") {
    import queries.CorpusQueries.SeqLen
    // (doc_id, source, seq_id, seg_off, seg_len)
    val segs = queries.CorpusQueries.defs("ds_pack_sequences").fn(spark, sf)
      .as[(Long, String, Long, Long, Long)].collect()
    val toks = queries.CorpusQueries.defs("ds_token_shards").fn(spark, sf)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    // every document's segments sum to its token count, in order
    segs.groupBy(_._1).foreach { case (id, ss) =>
      assert(ss.map(_._5).sum == toks(id), s"doc $id coverage")
      assert(ss.forall(s => s._5 >= 1 && s._5 <= SeqLen), s"doc $id seg_len")
      // consecutive sequences, non-first segments start at position 0
      val sorted = ss.sortBy(_._3)
      assert(sorted.map(_._3).toSeq ==
        (sorted.head._3 to sorted.last._3).toSeq, s"doc $id seq span")
      sorted.tail.foreach(s => assert(s._4 == 0L, s"doc $id later seg_off"))
    }
    // every sequence except each source's last is exactly full, with
    // segments tiling [0, SeqLen) without gap or overlap
    segs.groupBy(s => (s._2, s._3)).foreach { case ((src, seq), ss) =>
      val lastSeq = segs.filter(_._2 == src).map(_._3).max
      val sorted = ss.sortBy(_._4)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 + a._5 == b._4, s"$src/$seq tiling")
        case _ =>
      }
      if (seq != lastSeq)
        assert(sorted.map(_._5).sum == SeqLen, s"$src/$seq full")
    }
  }

  test("ds_chunk_windows covers every token with 25% overlap") {
    import queries.CorpusQueries.{ChunkStride, ChunkWindow}
    val out = queries.CorpusQueries.defs("ds_chunk_windows").fn(spark, sf)
      .as[(Long, Long, String)].collect()
    val byDoc = out.groupBy(_._1)
    val docs = queries.CorpusQueries.defs("ds_token_shards").fn(spark, sf)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    byDoc.foreach { case (id, chunks) =>
      val n = docs(id)
      val sorted = chunks.sortBy(_._2)
      // chunk ids are dense from 0
      assert(sorted.map(_._2).toSeq == (0L until sorted.length).toSeq)
      // expected count: 1 + ceil(max(0, n - window) / stride)
      val expect = 1 + math.max(0L,
        (n - ChunkWindow + ChunkStride - 1) / ChunkStride)
      assert(sorted.length == expect, s"doc $id n=$n")
      // every chunk except possibly the last is full-width
      sorted.dropRight(1).foreach { c =>
        assert(c._3.split(" ").length == ChunkWindow)
      }
      // reassembling chunk 0's tokens prefixes the doc: spot-check width
      assert(sorted.head._3.split(" ").length == math.min(n, ChunkWindow))
    }
  }

  test("ds_mix_sample keeps full strata whole and samples the rest") {
    val out = queries.CorpusQueries.defs("ds_mix_sample").fn(spark, sf)
      .as[(Long, String, Double)].collect()
    val bySrc = out.groupBy(_._2)
    // keep-all strata ('g' threshold) retain all 25 docs at weight 1
    for (i <- 0 to 4) {
      assert(bySrc(s"src$i").length == 25, s"src$i complete")
      assert(bySrc(s"src$i").forall(_._3 == 1.0))
    }
    // sampled strata keep strictly fewer, at their inverse-rate weight
    for (i <- 15 to 19; rows <- bySrc.get(s"src$i")) {
      assert(rows.length < 25, s"src$i sampled down")
      assert(rows.forall(_._3 == 10.0))
    }
    // determinism: a second run selects the identical row set
    val again = queries.CorpusQueries.defs("ds_mix_sample").fn(spark, sf)
      .as[(Long, String, Double)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("contamination finds cross-corpus shingle overlap, df-capped") {
    import graft.operators.Dedup
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven"),
      (3L, "common common common common common common")
    ).toDF("doc_id", "text")
    val probe = Seq(
      // shares 6 distinct 3-grams with train doc 1 (8-token overlap run)
      (10L, "alpha beta gamma delta epsilon zeta eta theta omega"),
      (11L, "unrelated words entirely different from training data")
    ).toDF("doc_id", "text")
    val hits = Dedup.contamination(train, probe, "doc_id", "text",
      minShared = 5)
      .as[(Long, Long, Long)].collect()
    assert(hits.toSeq == Seq((1L, 10L, 6L)))
    // below the threshold: nothing (minShared above the overlap)
    assert(Dedup.contamination(train, probe, "doc_id", "text",
      minShared = 7).count() == 0)
    // df cap: a shingle present in > maxProbeDf probe docs is ignored
    val boiler = (20L to 40L).map(i => (i, s"footer legal text boilerplate"))
      .toDF("doc_id", "text")
    assert(Dedup.contamination(
      Seq((5L, "footer legal text boilerplate")).toDF("doc_id", "text"),
      boiler, "doc_id", "text", minShared = 1, maxProbeDf = 10).count() == 0)
  }

  test("semDedup drops exactly the higher-id member of a near pair") {
    // ids 0..3 seed distinct centroids (nList=4); 8 and 9 are exact
    // duplicates of id 0's direction, so all three share a cell and the
    // two higher ids are dropped; everything else is kept.
    def unit(k: Int): Array[Float] =
      Array.tabulate(8)(d => if (d == k) 1.0f else 0.0f)
    val embs = Seq(
      (0L, unit(0)), (1L, unit(1)), (2L, unit(2)), (3L, unit(3)),
      (4L, unit(4)), (5L, unit(5)),
      (8L, unit(0).map(_ * 2.0f)), (9L, unit(0).map(_ * 3.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(embs, "vec_id", "embedding", 0.99,
      nList = 4, refineIters = 0)
      .as[(Long, Long, Boolean)].collect()
    assert(out.length == 8)
    val kept = out.filter(_._3).map(_._1).toSet
    assert(kept == Set(0L, 1L, 2L, 3L, 4L, 5L))
    // cell co-membership: 0, 8, 9 share a cell
    val cellOf = out.map(r => r._1 -> r._2).toMap
    assert(cellOf(8L) == cellOf(0L) && cellOf(9L) == cellOf(0L))
  }

  test("semDedup keeps everything when nothing crosses the threshold") {
    def unit(k: Int): Array[Float] =
      Array.tabulate(8)(d => if (d == k) 1.0f else 0.0f)
    val embs = (0 until 8).map(k => (k.toLong, unit(k)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(embs, "vec_id", "embedding", 0.5,
      nList = 4, refineIters = 1)
      .as[(Long, Long, Boolean)].collect()
    assert(out.length == 8 && out.forall(_._3))
  }
}
