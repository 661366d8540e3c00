package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, TextOps}
import graft.sources.Models

/** Persisted trained artifacts ([[graft.sources.Models]]): the subword
  * vocabulary and the historical MinHash-LSH index are trained ONCE per
  * corpus, persisted, and loaded by every subsequent query — including
  * after a catalog loss (JVM restart). Loading must be bit-identical to
  * retraining, and the persisted-index probe must equal the
  * from-scratch incremental dedup. */
class ModelsSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  private val tmp =
    java.nio.file.Files.createTempDirectory("graft-models").toString

  override def beforeAll(): Unit = {
    sys.props("graft.models.dir") = tmp
    Models.reset(spark, sf)
  }
  override def afterAll(): Unit = {
    Models.reset(spark, sf)
    sys.props.remove("graft.models.dir")
  }

  test("subword vocab: first use trains + persists, reload == retrain") {
    val fromStore = Models.subwordVocabSeq(spark, sf)
    val path = new java.io.File(new java.net.URI("file:" +
      Models.servingDir(spark,
        Models.vocabPath(sf, TextOps.SubwordVocabK))))
    assert(new java.io.File(path, "_SUCCESS").exists(),
      s"vocab not persisted at $path")
    // drop the session memo: the next call must come from the FILES
    Models.clearSessionCache()
    val reloaded = Models.subwordVocabSeq(spark, sf)
    val retrained = TextOps.subwordVocabSeq(Tables.documents(spark, sf))
    assert(reloaded == fromStore)
    assert(reloaded == retrained)
  }

  test("ivf centroids: persisted quantizer == retrained quantizer") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("cid"), col("cv").cast("string"), col("cn2"))
        .collect().map(_.toString).sorted.toSeq
    val stored = Models.ivfCentroids(spark, sf, 16, 2)
    val prep = graft.operators.Similarity.prepared(
      Tables.embeddings(spark, sf), "vec_id", "embedding")
    val retrained = graft.operators.Similarity.refinedCentroids(prep, 16, 2)
    assert(rows(stored) == rows(retrained))
    assert(stored.count() == 16)
    // and the indexed query equals the retrain-per-run query
    val a = SparkEntry.queries("sim_ivf_indexed")(spark, sf)
      .collect().map(_.toString).toSeq
    val b = SparkEntry.queries("sim_ivf_topk")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("lsh index: trained bucketed tables are registered and bucketed") {
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val index = Tables.documents(spark, sf).filter(h < "cc")
    val (bands, sets) = Models.lshIndex(spark, sf, index, "doc_id", "text")
    assert(bands.columns.toSeq == Seq("bk", "id"))
    assert(sets.columns.toSeq == Seq("id", "hs", "n"))
    // the index side of the probe join must read pre-bucketed files:
    // a batch-bands join plans exactly ONE exchange (the batch side)
    val batchBands = Dedup.bandTable(
      Dedup.minhashSignature(
        Dedup.shingleSets(
          Tables.documents(spark, sf).filter(h >= "cc"), "doc_id", "text")
          .select(col("id"), explode(col("hs")).as("sh")), 32), 16, 2)
    val probe = bands.join(batchBands.withColumnRenamed("id", "j"), "bk")
    val p = probe.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 exchange (batch side), got:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("persisted-index probe == from-scratch incremental dedup") {
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val docs = Tables.documents(spark, sf)
    val (bands, sets) =
      Models.lshIndex(spark, sf, docs.filter(h < "cc"), "doc_id", "text")
    val indexed = Dedup.incrementalDedupIndexed(
      bands, sets, docs.filter(h >= "cc"), "doc_id", "text", 0.8)
      .orderBy("id").collect().toSeq
    val scratch = Dedup.incrementalDedup(
      docs.filter(h < "cc"), docs.filter(h >= "cc"), "doc_id", "text", 0.8)
      .orderBy("id").collect().toSeq
    assert(indexed == scratch)
    assert(indexed.nonEmpty)
  }

  test("daily loop: appended batch is visible to tomorrow's probe") {
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val docs = Tables.documents(spark, sf)
    val batch = docs.filter(h >= "cc")
    val (bands0, sets0) =
      Models.lshIndex(spark, sf, docs.filter(h < "cc"), "doc_id", "text")
    val before = sets0.count()
    // day 1: fold the probed batch into the index
    Models.lshIndexAppend(spark, sf, batch, "doc_id", "text")
    val (bands1, sets1) = Models.lshIndex(spark, sf,
      sys.error("index exists — training must not run"), "doc_id", "text")
    assert(sets1.count() == before + batch.count())
    // day 2: an exact copy of a day-1 batch doc must now be caught
    val src = batch.select("doc_id", "text").orderBy("doc_id")
      .limit(1).collect().head
    val day2 = Seq((src.getLong(0) + 1000000L, src.getString(1)))
      .toDF("doc_id", "text")
    val res = graft.operators.Dedup.incrementalDedupIndexed(
      bands1, sets1, day2, "doc_id", "text", 0.8).collect().head
    assert(res.getLong(4) == 1L, s"dup not caught: $res") // is_dup
    assert(res.getDouble(3) == 1.0) // best_jac: exact copy
    // the append preserved the bucket layout: a bk-keyed aggregation
    // over the grown index still plans no bk exchange
    val p = bands1.groupBy("bk").count()
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning(bk"),
      s"append lost the bucket spec:\n$p")
  }

  test("catalog loss (restart): tables re-register over existing files") {
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val index = Tables.documents(spark, sf).filter(h < "cc")
    val (bands0, _) = Models.lshIndex(spark, sf, index, "doc_id", "text")
    val before = bands0.count()
    // simulate a new session: the catalog forgets, the files remain
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_model_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
    val (bands1, sets1) = Models.lshIndex(spark, sf, index, "doc_id", "text")
    assert(bands1.count() == before)
    // and the re-registered table is still BUCKETED (zero index-side
    // exchange in a key-equi self-aggregation)
    val p = bands1.groupBy("bk").count()
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning(bk"),
      s"bucketed re-registration lost:\n$p")
    assert(sets1.count() > 0)
  }

  test("dedup map: reload == retrain, bucketed by id") {
    val stored = Models.dedupMap(spark, sf)
    val docs = Tables.documents(spark, sf)
    val retrained = graft.operators.Dedup.components(
      docs.select(col("doc_id").as("id")),
      graft.operators.Dedup.jaccardPairs(docs, "doc_id", "text", 0.5)
        .select("i", "j"),
      pairsContained = true)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "label").collect().map(_.toString).sorted.toSeq
    assert(m(stored) == m(retrained))
    val p = stored.groupBy("id").count()
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning(id"),
      s"dedup map not bucketed:\n$p")
    // the registered indexed survivors query equals the retraining one…
    val a = SparkEntry.queries("dd_survivors_indexed")(spark, sf)
      .collect().map(_.toString).toSeq
    val b = SparkEntry.queries("dd_survivors")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(a == b)
    // …and its plan is a pure read of the stored map: no Generate
    // (the shingle explode) anywhere — the similarity-join/components
    // retrain subtree is absent, not merely cached
    val ip = SparkEntry.queries("dd_survivors_indexed")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!ip.contains("Generate"),
      s"indexed survivors re-derives shingles:\n$ip")
  }

  test("ivf-pq index: reload == retrain, codes bucketed by cell") {
    val (cents, cbRows, codes) = Models.ivfPqIndex(spark, sf)
    val prep = graft.operators.Similarity.prepared(
      Tables.embeddings(spark, sf), "vec_id", "embedding")
      .filter(size(col("qv")) === 64)
    val res = graft.operators.Similarity.ivfPqResiduals(prep, cents)
      .localCheckpoint(true)
    // retrain side mirrors the persisted default (ksub = 256, 8-bit)
    val rtCb = res.filter(col("id") < 256)
      .select(col("id").as("cid"), col("rv").as("cv"))
    val rtCodes = graft.operators.Similarity.ivfPqCodes(res, rtCb, 8, 256, 64)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(cbRows.select(col("cid"), col("cv").cast("string"))) ==
      rows(rtCb.select(col("cid"), col("cv").cast("string"))))
    assert(rows(codes.select(col("nid"), col("cid"),
        col("codes").cast("string"))) ==
      rows(rtCodes.select(col("nid"), col("cid"),
        col("codes").cast("string"))))
    // the stored codes table is bucketed: a cid-keyed aggregation
    // plans no cid exchange — the probe join's zero-exchange side
    val p = codes.groupBy("cid").count()
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning(cid"),
      s"ivfpq codes not bucketed:\n$p")
    // and the registered indexed query (servable point: nProbe=8,
    // ksub=256, rerank=50) equals an in-query retrain at the same point
    val a = SparkEntry.queries("sim_ivfpq_indexed")(spark, sf)
      .collect().map(_.toString).toSeq
    val b = graft.operators.Similarity.ivfPqTopK(
        Tables.embeddings(spark, sf), "vec_id", "embedding",
        k = 5, queryLimit = 10L, nList = 16, nProbe = 8, iters = 2,
        m = 8, ksub = 256, dim = 64, rerank = 50)
      .orderBy("qid", "rank")
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("ivf-pq daily loop: appended batch encodes against the frozen " +
      "model and keeps the bucket spec") {
    val (cents, cbRows, codes0) = Models.ivfPqIndex(spark, sf)
    val before = codes0.count()
    // day 1: three new vectors, exact copies of existing corpus rows
    // under fresh ids — the frozen quantizer + codebook must give them
    // the SAME cell and codes as their sources
    val src = Tables.embeddings(spark, sf)
      .orderBy("vec_id").limit(3).collect()
    val batch = src.map(r => (r.getLong(0) + 1000000L,
      r.getSeq[Float](r.fieldIndex("embedding")))).toSeq
      .toDF("vec_id", "embedding")
    val stats = Models.ivfPqIndexAppend(spark, sf, batch,
      "vec_id", "embedding")
    assert(stats.agg(sum("n_appended")).head().getLong(0) == 3L)
    val (_, _, codes1) = Models.ivfPqIndex(spark, sf)
    assert(codes1.count() == before + 3)
    // appended codes == their sources' codes (encode determinism
    // against the frozen artifacts)
    val byId = codes1.select(col("nid"), col("cid"),
        col("codes").cast("string").as("cs"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    src.foreach { r =>
      val id = r.getLong(0)
      assert(byId(id + 1000000L) == byId(id),
        s"appended copy of $id diverged")
    }
    // the append preserved the bucket layout: a cid-keyed aggregation
    // over the grown codes table still plans no cid exchange
    val p = codes1.groupBy("cid").count()
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning(cid"),
      s"append lost the bucket spec:\n$p")
    // drift guard trips when the threshold is tightened below the
    // hottest cell's actual share
    val batch2 = src.map(r => (r.getLong(0) + 2000000L,
      r.getSeq[Float](r.fieldIndex("embedding")))).toSeq
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Models.ivfPqIndexAppend(spark, sf, batch2, "vec_id", "embedding",
        maxCellShareMilli = 1)
    }
    assert(ex.getMessage.contains("drift guard"))
  }

  test("ivf-pq append replay folds to a no-op with dedupeIds " +
      "(at-least-once crash window)") {
    val (_, _, codes0) = Models.ivfPqIndex(spark, sf)
    val before = codes0.count()
    val src = Tables.embeddings(spark, sf)
      .orderBy("vec_id").limit(2).collect()
    val batch = src.map(r => (r.getLong(0) + 4000000L,
      r.getSeq[Float](r.fieldIndex("embedding")))).toSeq
      .toDF("vec_id", "embedding")
    val s1 = Models.ivfPqIndexAppend(spark, sf, batch,
      "vec_id", "embedding", dedupeIds = true)
    assert(s1.agg(sum("n_appended")).head().getLong(0) == 2L)
    // the replay a crash between the durable append and the streaming
    // checkpoint commit produces: the SAME batch again
    val s2 = Models.ivfPqIndexAppend(spark, sf, batch,
      "vec_id", "embedding", dedupeIds = true)
    assert(s2.agg(sum("n_appended")).head().getLong(0) == 0L,
      "replayed batch re-appended rows")
    val (_, _, codes1) = Models.ivfPqIndex(spark, sf)
    assert(codes1.count() == before + 2, "duplicate vectors in the index")
  }

  test("ivf-pq streaming maintenance: micro-batches fold into the " +
      "persisted index via the frozen model") {
    val (_, _, codes0) = Models.ivfPqIndex(spark, sf)
    val before = codes0.count()
    val src = Tables.embeddings(spark, sf)
      .orderBy("vec_id").limit(2).collect()
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.EventStreams.VecEvent](spark)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-idx-ckpt").toString
    // compactEvery = 2: the second applied fold triggers the in-loop
    // codes-table compaction, so the encode-determinism pins below
    // also prove compaction preserved the streamed rows
    val q = graft.streaming.EventStreams.indexMaintenance(
      input.toDF(), sf, ckpt, compactEvery = 2)
    try {
      // two micro-batches, one new vector each (copies under fresh ids)
      src.zipWithIndex.foreach { case (r, i) =>
        input.addData(graft.streaming.EventStreams.VecEvent(
          r.getLong(0) + 3000000L + i,
          r.getSeq[Float](r.fieldIndex("embedding"))))
        q.processAllAvailable()
      }
    } finally q.stop()
    val (_, _, codes1) = Models.ivfPqIndex(spark, sf)
    assert(codes1.count() == before + 2)
    // the in-loop compaction left the minimal cid-bucketed layout
    // (counted at the SERVING generation — the retained previous
    // generation is keep-2 history, not the probe's read set)
    val codesDir = new org.apache.hadoop.fs.Path(
      Models.servingDir(spark, Models.ivfPqCodesPath(sf, 16, 2, 8, 256)))
    val cfs = codesDir.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val cit = cfs.listFiles(codesDir, true)
    var cn = 0L
    while (cit.hasNext) {
      if (cit.next().getPath.getName.endsWith(".parquet")) cn += 1
    }
    assert(cn <= Models.IndexBuckets,
      s"in-loop codes compaction left $cn files")
    // streamed copies carry their sources' cell + codes (frozen-model
    // encode determinism, same pin as the batch daily-loop test)
    val byId = codes1.select(col("nid"), col("cid"),
        col("codes").cast("string").as("cs"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    src.zipWithIndex.foreach { case (r, i) =>
      assert(byId(r.getLong(0) + 3000000L + i) == byId(r.getLong(0)))
    }
  }

  test("ivf-pq streaming maintenance: a tripped drift guard FAILS the " +
      "stream instead of silently degrading") {
    Models.ivfPqIndex(spark, sf) // ensure trained
    val src = Tables.embeddings(spark, sf).orderBy("vec_id").limit(1)
      .collect().head
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.EventStreams.VecEvent](spark)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-idx-ckpt2").toString
    // an impossible threshold: any batch trips the guard
    val q = graft.streaming.EventStreams.indexMaintenance(
      input.toDF(), sf, ckpt, maxCellShareMilli = 1)
    try {
      input.addData(graft.streaming.EventStreams.VecEvent(
        src.getLong(0) + 9000000L,
        src.getSeq[Float](src.fieldIndex("embedding"))))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(ex.getMessage.contains("drift guard") ||
        Option(ex.getCause).exists(_.getMessage.contains("drift guard")),
        s"unexpected failure: $ex")
    } finally q.stop()
  }

  test("postings index: reload == retokenize, bucketed by tok, " +
      "bm25 over artifacts equals the retrain query") {
    val stored = Models.postings(spark, sf)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.operators.TextOps.tokens(col("text")).as("w"))
    val retok = docs.select(col("doc_id"), explode(col("w")).as("tok"))
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(m(stored.select("tok", "doc_id", "tf")) == m(retok))
    // bucket layout: a tok-keyed aggregation plans no tok exchange
    val p = stored.groupBy("tok").count()
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning(tok"),
      s"postings not bucketed:\n$p")
    // doc lens reload == recompute
    val lens = Models.docLens(spark, sf)
    val relens = docs.select(col("doc_id"),
      size(col("w")).cast("long").as("dl"))
    assert(m(lens.select("doc_id", "dl")) == m(relens))
    // the serving query equals the retrain query row for row
    val a = SparkEntry.queries("tx_bm25_postings")(spark, sf)
      .collect().map(_.toString).toSeq
    val b = SparkEntry.queries("tx_bm25_topk")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("postings daily fold: appended batch + refreshed df/lens equal " +
      "a from-scratch retokenize of the grown corpus") {
    // base corpus = ~90% of the docs (md5 split), batch = the rest —
    // written as its own corpus dir so the artifacts train on the base
    val all = Tables.documents(spark, sf)
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val baseDir = java.nio.file.Files
      .createTempDirectory("graft-bm25-fold").toString
    all.filter(h < "e6").write.mode("overwrite")
      .parquet(s"$baseDir/documents.parquet")
    val batch = all.filter(h >= "e6").select("doc_id", "text")
    assert(batch.count() > 0)
    Models.postings(spark, baseDir) // build base artifacts
    Models.postingsAppend(spark, baseDir, batch, "doc_id", "text")
    // folded artifacts == retokenize of the FULL corpus
    val docs = all.select(col("doc_id"),
      graft.operators.TextOps.tokens(col("text")).as("w"))
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(m(Models.postings(spark, baseDir)
      .select("tok", "doc_id", "tf")) ==
      m(docs.select(col("doc_id"), explode(col("w")).as("tok"))
        .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))))
    assert(m(Models.docLens(spark, baseDir).select("doc_id", "dl")) ==
      m(docs.select(col("doc_id"), size(col("w")).cast("long").as("dl"))))
    assert(m(Models.dfTable(spark, baseDir).select("tok", "df")) ==
      m(graft.operators.TextOps.dfTable(docs)))
    // the fold preserved the bucket layout
    val p = Models.postings(spark, baseDir).groupBy("tok").count()
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning(tok"),
      s"fold lost the bucket spec:\n$p")
    // …and BM25 served from the folded artifacts equals the retrain
    // query over the grown corpus
    val df = graft.operators.TextOps.dfTable(docs).localCheckpoint(true)
    val want = graft.queries.TextQueries
      .bm25With(docs, df, graft.queries.TextQueries.bm25QueryTerms(df))
      .collect().map(_.toString).toSeq
    val dfStored = Models.dfTable(spark, baseDir)
    val lens = Models.docLens(spark, baseDir)
    val tot = lens.agg(count(lit(1)).as("nn"), sum("dl").as("s"))
    val served = Models.postings(spark, baseDir)
      .join(broadcast(graft.queries.TextQueries
        .bm25QueryTerms(dfStored)), "tok")
      .join(broadcast(dfStored), "tok")
      .join(lens, "doc_id")
      .crossJoin(broadcast(tot))
      .withColumn("idf",
        log((lit(2L) * (col("nn") - col("df")) + lit(1L)).cast("double")) -
          log((lit(2L) * col("df") + lit(1L)).cast("double")))
      .withColumn("t",
        col("idf") * (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + (lit(0.3) + lit(0.9) *
            ((col("dl") * col("nn")).cast("double") /
              col("s").cast("double")))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), sum("t").as("sc"))
      .select(col("doc_id"), col("n_hits"), round(col("sc"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
      .collect().map(_.toString).toSeq
    assert(served == want && want.nonEmpty)
  }

  test("buildRetrievalArtifacts: one tokenize pass yields the same " +
      "artifacts as the per-accessor trains, staging reclaimed") {
    val all = Tables.documents(spark, sf)
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val slice = all.filter(h < "e6")
    // dir A: the combined builder, fed the in-plan slice (no corpus
    // copy on disk); dir B: the independent per-accessor trains over
    // an identical corpus dir
    val dirA = java.nio.file.Files
      .createTempDirectory("graft-build-combined").toString
    val dirB = java.nio.file.Files
      .createTempDirectory("graft-build-accessors").toString
    slice.write.mode("overwrite").parquet(s"$dirB/documents.parquet")
    Models.buildRetrievalArtifacts(spark, dirA, docs = Some(slice),
      includePositional = true)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(m(Models.postings(spark, dirA).select("tok", "doc_id", "tf")) ==
      m(Models.postings(spark, dirB).select("tok", "doc_id", "tf")))
    assert(m(Models.docLens(spark, dirA).select("doc_id", "dl")) ==
      m(Models.docLens(spark, dirB).select("doc_id", "dl")))
    assert(m(Models.dfTable(spark, dirA).select("tok", "df")) ==
      m(Models.dfTable(spark, dirB).select("tok", "df")))
    assert(m(Models.positionalPostings(spark, dirA)
        .select(col("tok"), col("doc_id"), col("positions").cast("string"))) ==
      m(Models.positionalPostings(spark, dirB)
        .select(col("tok"), col("doc_id"), col("positions").cast("string"))))
    // bucket layout from the builder's write: no tok-side exchange
    val p = Models.postings(spark, dirA).groupBy("tok").count()
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning(tok"),
      s"builder lost the bucket spec:\n$p")
    // the tokenize staging dir was reclaimed
    val stage = new java.io.File(
      new java.net.URI("file:" + Models.root(dirA) + "/tok_staging"))
    assert(!stage.exists(), s"staging not reclaimed: $stage")
    // a later fold still lands on builder-built base artifacts
    val batch = all.filter(h >= "e6").select("doc_id", "text")
    Models.postingsAppend(spark, dirA, batch, "doc_id", "text")
    val docs = all.select(col("doc_id"),
      graft.operators.TextOps.tokens(col("text")).as("w"))
    assert(m(Models.postings(spark, dirA).select("tok", "doc_id", "tf")) ==
      m(docs.select(col("doc_id"), explode(col("w")).as("tok"))
        .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))))
    Models.drop(spark, dirA)
    Models.drop(spark, dirB)
  }

  test("positional postings: reload == retokenize, bucketed by tok; " +
      "phrase/proximity/boolean queries equal independent spellings") {
    val stored = Models.positionalPostings(spark, sf)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.operators.TextOps.tokens(col("text")).as("w"))
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // reload == retokenize
    val retok = docs
      .select(col("doc_id"), posexplode(col("w")).as(Seq("i", "tok")))
      .groupBy("tok", "doc_id")
      .agg(sort_array(collect_list(col("i").cast("long") + lit(1L)))
        .as("positions"))
    assert(m(stored.select("tok", "doc_id", "positions")) == m(retok))
    // bucket layout: tok-keyed aggregation plans no tok exchange
    val p = stored.groupBy("tok").count()
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning(tok"),
      s"positional postings not bucketed:\n$p")
    val ph = graft.queries.TextQueries.topBigram(docs)
      .localCheckpoint(true)
    // phrase from the index == a direct adjacency scan of the corpus
    // (independent spelling: indexed-lambda filter over token slices)
    val brutePhrase = docs.crossJoin(broadcast(ph))
      .select(col("doc_id"),
        expr("size(filter(slice(w, 1, greatest(size(w) - 1, 0)), " +
          "(x, i) -> x = w1 AND w[i + 1] = w2))")
          .cast("long").as("matches"))
      .filter(col("matches") > 0)
      .orderBy(col("matches").desc, col("doc_id")).limit(20)
    val gotPhrase = graft.queries.TextQueries.phraseMatches(stored, ph)
      .collect().map(_.toString).toSeq
    assert(gotPhrase == brutePhrase.collect().map(_.toString).toSeq &&
      gotPhrase.nonEmpty)
    // proximity from the index == an explode + non-equi self-join
    val occ = docs
      .select(col("doc_id"), posexplode(col("w")).as(Seq("i0", "tok")))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("i"),
        col("tok"))
    val o1 = occ.join(broadcast(ph.select(col("w1").as("tok"))), "tok")
      .select(col("doc_id"), col("i").as("a"))
    val o2 = occ.join(broadcast(ph.select(col("w2").as("tok"))), "tok")
      .select(col("doc_id").as("d2"), col("i").as("b"))
    val bruteNear = o1
      .join(o2, o1("doc_id") === o2("d2") && col("b") =!= col("a") &&
        abs(col("b") - col("a")) <= 5)
      .groupBy("doc_id").agg(count(lit(1)).as("pairs"))
      .orderBy(col("pairs").desc, col("doc_id")).limit(20)
    val gotNear = graft.queries.TextQueries.nearMatches(stored, ph)
      .collect().map(_.toString).toSeq
    assert(gotNear == bruteNear.collect().map(_.toString).toSeq &&
      gotNear.nonEmpty)
    // boolean AND from the tf postings == a raw-corpus spelling
    val q = graft.queries.TextQueries
      .bm25QueryTerms(Models.dfTable(spark, sf))
    val bruteAnd = occ.join(broadcast(q), "tok")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("tf").as("tf_sum"))
      .filter(col("n_terms") === 5)
      .select(col("doc_id"), col("tf_sum"))
      .orderBy("doc_id")
    val gotAnd = SparkEntry.queries("tx_boolean_and")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(gotAnd == bruteAnd.collect().map(_.toString).toSeq &&
      gotAnd.nonEmpty)
  }

  test("positional postings daily fold: postingsAppend maintains the " +
      "positional index; folded phrase serving == grown-corpus scan") {
    val all = Tables.documents(spark, sf)
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val baseDir = java.nio.file.Files
      .createTempDirectory("graft-pos-fold").toString
    all.filter(h < "e6").write.mode("overwrite")
      .parquet(s"$baseDir/documents.parquet")
    val batch = all.filter(h >= "e6").select("doc_id", "text")
    assert(batch.count() > 0)
    Models.postings(spark, baseDir)
    Models.positionalPostings(spark, baseDir) // base positional index
    Models.postingsAppend(spark, baseDir, batch, "doc_id", "text")
    val docs = all.select(col("doc_id"),
      graft.operators.TextOps.tokens(col("text")).as("w"))
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // folded positional rows == retokenize of the FULL corpus
    val retok = docs
      .select(col("doc_id"), posexplode(col("w")).as(Seq("i", "tok")))
      .groupBy("tok", "doc_id")
      .agg(sort_array(collect_list(col("i").cast("long") + lit(1L)))
        .as("positions"))
    assert(m(Models.positionalPostings(spark, baseDir)
      .select("tok", "doc_id", "positions")) == m(retok))
    // the fold preserved the bucket layout
    val p = Models.positionalPostings(spark, baseDir)
      .groupBy("tok").count().queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning(tok"),
      s"fold lost the positional bucket spec:\n$p")
    // phrase served from the FOLDED index == adjacency scan of the
    // grown corpus (phrase re-derived over the grown corpus, as a
    // steady-state consumer would)
    val ph = graft.queries.TextQueries.topBigram(docs)
      .localCheckpoint(true)
    val brute = docs.crossJoin(broadcast(ph))
      .select(col("doc_id"),
        expr("size(filter(slice(w, 1, greatest(size(w) - 1, 0)), " +
          "(x, i) -> x = w1 AND w[i + 1] = w2))")
          .cast("long").as("matches"))
      .filter(col("matches") > 0)
      .orderBy(col("matches").desc, col("doc_id")).limit(20)
    val got = graft.queries.TextQueries
      .phraseMatches(Models.positionalPostings(spark, baseDir), ph)
      .collect().map(_.toString).toSeq
    assert(got == brute.collect().map(_.toString).toSeq && got.nonEmpty)
  }

  test("index compaction: daily folds accumulate small files; " +
      "compact rewrites one file per bucket with rows and bucket " +
      "layout unchanged, and later folds still land") {
    val all = Tables.documents(spark, sf)
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val baseDir = java.nio.file.Files
      .createTempDirectory("graft-compact").toString
    all.filter(h < "cc").write.mode("overwrite")
      .parquet(s"$baseDir/documents.parquet")
    Models.postings(spark, baseDir)
    Models.positionalPostings(spark, baseDir)
    // three daily folds (disjoint md5 slices, each non-empty)
    for ((lo, hi) <- Seq(("cc", "dd"), ("dd", "ee"), ("ee", "f8"))) {
      val batch = all.filter(h >= lo && h < hi).select("doc_id", "text")
      assert(batch.count() > 0, s"empty fold slice [$lo,$hi)")
      Models.postingsAppend(spark, baseDir, batch, "doc_id", "text")
    }
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val rowsBefore = m(Models.postings(spark, baseDir)
      .select("tok", "doc_id", "tf"))
    val posBefore = m(Models.positionalPostings(spark, baseDir)
      .select("tok", "doc_id", "positions"))
    val res = Models.compactRetrievalIndexes(spark, baseDir)
    // the folds really did fragment; compaction really did shrink
    assert(res("postings")._1 > Models.IndexBuckets, res.toString)
    assert(res("postings")._2 <= Models.IndexBuckets, res.toString)
    assert(res("postings_pos")._1 > Models.IndexBuckets, res.toString)
    assert(res("postings_pos")._2 <= Models.IndexBuckets, res.toString)
    // rows byte-identical, bucket layout intact
    assert(m(Models.postings(spark, baseDir)
      .select("tok", "doc_id", "tf")) == rowsBefore)
    assert(m(Models.positionalPostings(spark, baseDir)
      .select("tok", "doc_id", "positions")) == posBefore)
    val p = Models.postings(spark, baseDir).groupBy("tok").count()
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning(tok"),
      s"compaction lost the bucket spec:\n$p")
    // a fold AFTER compaction still lands and still equals retokenize
    val late = all.filter(h >= "f8").select("doc_id", "text")
    assert(late.count() > 0)
    Models.postingsAppend(spark, baseDir, late, "doc_id", "text")
    // base + three slices + the late fold = the whole corpus
    val grown = all
      .select(col("doc_id"),
        graft.operators.TextOps.tokens(col("text")).as("w"))
    assert(m(Models.postings(spark, baseDir)
      .select("tok", "doc_id", "tf")) ==
      m(grown.select(col("doc_id"), explode(col("w")).as("tok"))
        .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))))
  }

  test("compaction cutover is atomic: a crash before the commit marker " +
      "leaves the old head serving; a concurrent reader across the " +
      "cutover sees old-or-new rows, never mixed or missing; " +
      "compactBucketed generalizes to the LSH band index") {
    val all = Tables.documents(spark, sf)
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-compact-crash").toString
    all.filter(h < "cc").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    Models.postings(spark, dir)
    Models.postingsAppend(spark, dir,
      all.filter(h >= "cc" && h < "ee").select("doc_id", "text"),
      "doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val rows0 = m(Models.postings(spark, dir)
      .select("tok", "doc_id", "tf"))
    // simulate the worst crash window: the compacting writer finished
    // its COMPLETE next generation (with _SUCCESS) but died before the
    // atomic commit marker — the generation-pointer protocol's only
    // mid-cutover state
    val path = Models.postingsPath(dir)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val servedBefore = Models.servingDir(spark, path)
    val orphan = new org.apache.hadoop.fs.Path(path, "gen-99")
    fs.mkdirs(orphan)
    fs.create(new org.apache.hadoop.fs.Path(orphan, "_SUCCESS"),
      true).close()
    fs.create(new org.apache.hadoop.fs.Path(orphan, "part-x.parquet"),
      true).close() // a complete-looking but UNCOMMITTED rewrite
    // serving is untouched: the head still resolves to the committed
    // generation and the rows are intact
    assert(Models.servingDir(spark, path) == servedBefore,
      "uncommitted generation leaked into serving")
    assert(m(Models.postings(spark, dir)
      .select("tok", "doc_id", "tf")) == rows0)
    // a CONCURRENT READER resolved before the cutover: its plan is
    // bound to the old generation's FILES (spark.read.parquet lists
    // them at plan time), which keep-2 retention preserves across the
    // flip — it reads the same complete rows while a post-cutover
    // reader sees the (identical) new generation
    val preCutoverReader = spark.read.parquet(servedBefore)
      .select("tok", "doc_id", "tf")
    val (_, after) = Models.compactBucketed(spark, path)
    assert(after <= Models.IndexBuckets)
    assert(!fs.exists(orphan), "torn uncommitted rewrite not reclaimed")
    assert(m(preCutoverReader) == rows0,
      "reader racing the cutover lost its snapshot")
    assert(m(Models.postings(spark, dir)
      .select("tok", "doc_id", "tf")) == rows0)
    assert(Models.servingDir(spark, path) != servedBefore,
      "cutover did not advance the head generation")
    assert(fs.exists(new org.apache.hadoop.fs.Path(servedBefore)),
      "keep-2 retention deleted the previous generation at its cutover")
    // generality: the LSH band index (bk buckets) compacts the same way
    val (bands0, _) = Models.lshIndex(spark, dir,
      all.filter(h < "cc"), "doc_id", "text")
    Models.lshIndexAppend(spark, dir,
      all.filter(h >= "cc" && h < "ee").select("doc_id", "text"),
      "doc_id", "text")
    val bandsPath = Models.lshBandsPath(dir, 32, 16, 3)
    def bandRows() = m(spark.read.parquet(
      Models.servingDir(spark, bandsPath)))
    val rowsB = bandRows()
    val (bBefore, bAfter) =
      Models.compactBucketed(spark, bandsPath)
    assert(bAfter <= Models.IndexBuckets && bAfter <= bBefore)
    assert(bandRows() == rowsB)
    val p = Models.lshIndex(spark, dir,
        sys.error("index exists — training must not run"),
        "doc_id", "text")._1
      .groupBy("bk").count().queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning(bk"),
      s"compaction lost the band bucket spec:\n$p")
  }

  test("retrieval streaming maintenance: micro-batches fold into the " +
      "postings artifacts; replayed batches fold to a no-op") {
    val all = Tables.documents(spark, sf)
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val baseDir = java.nio.file.Files
      .createTempDirectory("graft-bm25-stream").toString
    all.filter(h < "e6").write.mode("overwrite")
      .parquet(s"$baseDir/documents.parquet")
    Models.postings(spark, baseDir) // base artifacts
    Models.positionalPostings(spark, baseDir) // rides the same folds
    // record the maintenance ledger for this corpus: the assertions at
    // the end pin one event per APPLIED operation and none for replays
    graft.sources.MaintenanceLog.enable(Models.root(baseDir))
    val newDocs = all.filter(h >= "e6")
      .select("doc_id", "text").collect()
    assert(newDocs.length >= 2)
    val (b1, b2) = newDocs.splitAt(newDocs.length / 2)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.EventStreams.DocEvent](spark)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-bm25-ckpt").toString
    // compactEvery = 2: the second applied fold triggers in-loop
    // compaction, so the stream exercises fold -> fold -> compact and
    // every equality below also proves compaction preserved the rows
    val q = graft.streaming.EventStreams
      .retrievalMaintenance(input.toDS(), baseDir, ckpt,
        compactEvery = 2)
    def ev(r: org.apache.spark.sql.Row) =
      graft.streaming.EventStreams.DocEvent(r.getLong(0),
        java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), r.getString(1))
    try {
      input.addData(b1.map(ev).toSeq); q.processAllAvailable()
      input.addData(b2.map(ev).toSeq); q.processAllAvailable()
    } finally q.stop()
    // folded artifacts == retokenize of the FULL corpus
    val docs = all.select(col("doc_id"),
      graft.operators.TextOps.tokens(col("text")).as("w"))
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(m(Models.postings(spark, baseDir)
      .select("tok", "doc_id", "tf")) ==
      m(docs.select(col("doc_id"), explode(col("w")).as("tok"))
        .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))))
    assert(m(Models.dfTable(spark, baseDir).select("tok", "df")) ==
      m(graft.operators.TextOps.dfTable(docs)))
    // the positional index rode the same micro-batch folds
    assert(m(Models.positionalPostings(spark, baseDir)
      .select("tok", "doc_id", "positions")) ==
      m(docs.select(col("doc_id"),
          posexplode(col("w")).as(Seq("i", "tok")))
        .groupBy("tok", "doc_id")
        .agg(sort_array(collect_list(col("i").cast("long") + lit(1L)))
          .as("positions"))))
    // the in-loop compaction left the minimal file layout
    def nFiles(p: String): Long = {
      val d = new org.apache.hadoop.fs.Path(p)
      val fsys = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fsys.listFiles(d, true)
      var n = 0L
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    assert(nFiles(Models.servingDir(spark, Models.postingsPath(baseDir)))
      <= Models.IndexBuckets,
      "in-loop compaction did not restore the minimal layout")
    assert(nFiles(Models.servingDir(spark,
      Models.positionalPostingsPath(baseDir))) <= Models.IndexBuckets,
      "in-loop compaction missed the positional index")
    assert(nFiles(Models.servingDir(spark,
      Models.docLensPath(baseDir))) == 1,
      "in-loop compaction missed the appended doc-length table")
    // the at-least-once crash window: the SAME batch again — no-op
    val before = Models.postings(spark, baseDir).count()
    val posBefore = Models.positionalPostings(spark, baseDir).count()
    import spark.implicits._
    Models.postingsAppend(spark, baseDir,
      b2.map(r => (r.getLong(0), r.getString(1))).toSeq
        .toDF("doc_id", "text"),
      "doc_id", "text", dedupeIds = true)
    assert(Models.postings(spark, baseDir).count() == before,
      "replayed batch re-appended postings")
    assert(Models.positionalPostings(spark, baseDir).count() == posBefore,
      "replayed batch re-appended positional postings")
    // maintenance reporter: exactly one event per APPLIED operation
    // (fold b1, fold b2, the in-loop compaction's three artifacts) and
    // — the at-least-once pin — NO event for the replayed fold above
    val ledger = graft.sources.MaintenanceLog
      .events(spark, Models.root(baseDir))
      .select("seq", "kind", "family", "n_rows").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(ledger.map(e => (e._2, e._3)) == Seq(
      ("fold", "postings"), ("fold", "postings"),
      ("compact", "postings"), ("compact", "postings_pos"),
      ("compact", "doc_lens")),
      s"maintenance ledger wrong (replay must emit nothing): $ledger")
    assert(ledger(0)._4 == b1.length && ledger(1)._4 == b2.length,
      s"fold events carry wrong row counts: $ledger")
    graft.sources.MaintenanceLog.disable(Models.root(baseDir))
  }

  test("dedup streaming maintenance: micro-batches probe the persisted " +
      "LSH index then fold in; decisions equal the sequential batch " +
      "replay, replays are no-ops, in-loop compaction holds the layout") {
    val all = Tables.documents(spark, sf)
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val base = all.filter(h < "cc")
    val b1 = all.filter(h >= "cc" && h < "dd").select("doc_id", "text")
    val b2 = all.filter(h >= "dd" && h < "ee").select("doc_id", "text")
    assert(b1.count() > 0 && b2.count() > 0)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // expected: the SEQUENTIAL daily-loop replay in a twin dir
    val dirE = java.nio.file.Files
      .createTempDirectory("graft-dedupm-exp").toString
    val (eBands, eSets) =
      Models.lshIndex(spark, dirE, base, "doc_id", "text")
    val want1 = m(graft.operators.Dedup.incrementalDedupIndexed(
      eBands, eSets, b1, "doc_id", "text", 0.8))
    Models.lshIndexAppend(spark, dirE, b1, "doc_id", "text")
    val (eBands1, eSets1) = Models.lshIndex(spark, dirE,
      sys.error("trained"), "doc_id", "text")
    val want2 = m(graft.operators.Dedup.incrementalDedupIndexed(
      eBands1, eSets1, b2, "doc_id", "text", 0.8))
    // the stream
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dedupm").toString
    Models.lshIndex(spark, dir, base, "doc_id", "text")
    val got = scala.collection.mutable.Map[Long, Seq[String]]()
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.EventStreams.DocEvent](spark)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-dedupm-ckpt").toString
    val q = graft.streaming.EventStreams.dedupMaintenance(
      input.toDS(), dir, ckpt,
      (df, bid) => { got(bid) = m(df); () }, compactEvery = 2)
    def ev(r: org.apache.spark.sql.Row) =
      graft.streaming.EventStreams.DocEvent(r.getLong(0),
        java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), r.getString(1))
    try {
      input.addData(b1.collect().map(ev).toSeq); q.processAllAvailable()
      input.addData(b2.collect().map(ev).toSeq); q.processAllAvailable()
    } finally q.stop()
    assert(got(0L) == want1, "batch-1 decisions diverged")
    assert(got(1L) == want2,
      "batch-2 decisions diverged (fold not visible to the next probe?)")
    // crash-window replay decisions: batch 2 is ALREADY folded into
    // the index, yet a re-probe emits the SAME decisions — index rows
    // with batch ids are excluded from the candidate set, so a replay
    // never matches a document to itself (or its batch-mates) at 1.0
    val (rBands, rSets) = Models.lshIndex(spark, dir,
      sys.error("trained"), "doc_id", "text")
    assert(m(graft.operators.Dedup.incrementalDedupIndexed(
      rBands, rSets, b2, "doc_id", "text", 0.8)) == want2,
      "replayed probe against a folded-in batch diverged")
    // replay idempotence: the dedupeIds fold layer appends nothing
    val bandsPath = Models.lshBandsPath(dir, 32, 16, 3)
    val setsPath = Models.lshSetsPath(dir, 3)
    def served(p: String) =
      spark.read.parquet(Models.servingDir(spark, p))
    val nb = served(bandsPath).count()
    val ns = served(setsPath).count()
    Models.lshIndexAppend(spark, dir, b2, "doc_id", "text",
      dedupeIds = true)
    assert(served(bandsPath).count() == nb,
      "replayed fold re-appended band rows")
    assert(served(setsPath).count() == ns,
      "replayed fold re-appended shingle sets")
    // in-loop compaction (after the 2nd applied fold) held the layout
    def nFiles2(p: String): Long = {
      val d = new org.apache.hadoop.fs.Path(Models.servingDir(spark, p))
      val fsys = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fsys.listFiles(d, true)
      var n = 0L
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    assert(nFiles2(bandsPath) <= Models.IndexBuckets, "bands fragmented")
    assert(nFiles2(setsPath) <= Models.IndexBuckets, "sets fragmented")
  }

  test("dedup streaming maintenance with foldMap: the cluster map " +
      "folds in-loop, bridge merges land, in-loop compaction folds " +
      "the remap ledger; streamed == sequential replay") {
    // same crafted geometry as the batch map-fold test: E(50) bridges
    // X={10,11} with Y={20}; F(60) then bridges the merged cluster
    // with Z={30} — across TWO micro-batches
    def doc(id: Long, change: Map[Int, String]): (Long, String) =
      (id, (1 to 40).map(i => change.getOrElse(i, s"t$i")).mkString(" "))
    val base = Seq(
      doc(10, Map(1 -> "a1", 2 -> "a2")),
      doc(11, Map(1 -> "a1", 2 -> "a2")),
      doc(20, Map(20 -> "b1", 21 -> "b2")),
      doc(30, Map(28 -> "c1", 29 -> "c2", 30 -> "c3", 31 -> "c4")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dedupm-map").toString
    base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Models.dedupMap(spark, dir, 80)
    Models.lshIndex(spark, dir,
      Tables.documents(spark, dir), "doc_id", "text")
    val fold1 = Seq(doc(50, Map.empty)).toDF("doc_id", "text")
    val fold2 = Seq(doc(60, Map(28 -> "c1", 29 -> "c2")))
      .toDF("doc_id", "text")
    val got = scala.collection.mutable.Map[Long, Long]()
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.EventStreams.DocEvent](spark)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-dedupm-map-ckpt").toString
    val q = graft.streaming.EventStreams.dedupMaintenance(
      input.toDS(), dir, ckpt,
      (df, bid) => { got(bid) = df.count(); () },
      compactEvery = 2, foldMap = true)
    def ev(r: org.apache.spark.sql.Row) =
      graft.streaming.EventStreams.DocEvent(r.getLong(0),
        java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), r.getString(1))
    try {
      input.addData(fold1.collect().map(ev).toSeq); q.processAllAvailable()
      input.addData(fold2.collect().map(ev).toSeq); q.processAllAvailable()
    } finally q.stop()
    assert(got(0L) == 1 && got(1L) == 1, s"decisions missing: $got")
    // the streamed folds produced exactly the sequential result,
    // merges included
    val r = Models.dedupMapResolved(spark, dir, 80).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(10L -> 10L, 11L -> 10L, 20L -> 10L, 30L -> 10L,
      50L -> 10L, 60L -> 10L), s"streamed map: $r")
    // in-loop compaction (after the 2nd applied fold) folded the
    // ledger into the base rows and held the minimal layout
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      Models.dedupRemapPath(dir, 80))), "remap not folded in-loop")
    val raw = Models.dedupMap(spark, dir, 80).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(raw == r, "compacted raw rows != resolved rows")
  }

  test("df table: reload == retrain, indexed query equals retraining") {
    val stored = Models.dfTable(spark, sf)
    val retrained = TextOps.dfTable(Tables.documents(spark, sf)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("w")))
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(m(stored) == m(retrained))
    val a = SparkEntry.queries("tx_rarity_indexed")(spark, sf)
      .collect().map(_.toString).toSeq
    val b = SparkEntry.queries("tx_rarity")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("bigram lm: reload == retrain, indexed query equals retraining") {
    val stored = Models.bigramLm(spark, sf)
    val retrained = TextOps.lmFit(
      TextOps.lmDocs(Tables.documents(spark, sf)))
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(m(stored) == m(retrained))
    val a = SparkEntry.queries("tx_lm_score_indexed")(spark, sf)
      .collect().map(_.toString).toSeq
    val b = SparkEntry.queries("tx_lm_score")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("bpe artifacts: reload == retrain, dictionary side never shuffles") {
    val (merges, segs) = Models.bpe(spark, sf)
    val (rtMerges, rtSegs) = TextOps.bpeTrain(Tables.documents(spark, sf), "text")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("round").collect().map(_.toString).toSeq
    def sg(df: org.apache.spark.sql.DataFrame) =
      df.select("word", "c", "seg").collect().map(_.toString).sorted.toSeq
    assert(m(merges) == m(rtMerges))
    assert(sg(segs) == sg(rtSegs))
    // the persisted dictionary is bucketed by word: the apply join
    // plans no word-exchange on the dictionary side
    val p = segs.groupBy("word").count()
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning(word"),
      s"bpe dictionary not bucketed:\n$p")
    // and the registered indexed query agrees with the retraining one
    val a = SparkEntry.queries("tx_bpe_segment_indexed")(spark, sf)
      .collect().map(_.toString).toSeq
    val b = SparkEntry.queries("tx_bpe_segment")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("compactBucketed edges: idempotent re-compact, and a crashed " +
      "partial staging dir (no _SUCCESS) is reclaimed, not renamed in") {
    val all = Tables.documents(spark, sf)
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-compact-edge").toString
    all.filter(h < "cc").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    Models.postings(spark, dir)
    Models.postingsAppend(spark, dir,
      all.filter(h >= "cc" && h < "ee").select("doc_id", "text"),
      "doc_id", "text")
    def m() = Models.postings(spark, dir)
      .select("tok", "doc_id", "tf")
      .collect().map(_.toString).sorted.toSeq
    val rows0 = m()
    val path = Models.postingsPath(dir)
    val (_, a1) = Models.compactBucketed(spark, path)
    assert(a1 <= Models.IndexBuckets)
    // idempotence: a second compact keeps the minimal layout and rows
    val (b2, a2) = Models.compactBucketed(spark, path)
    assert(b2 == a1 && a2 <= Models.IndexBuckets && m() == rows0)
    // a writer that died MID-STAGE leaves a partial uncommitted
    // generation (no commit marker): the next compact must reclaim it
    // (never serve or commit a torn rewrite) and still compact
    // correctly
    val head = Models.servingDir(spark, path)
      .split('/').last.stripPrefix("gen-").toLong
    val stage = new org.apache.hadoop.fs.Path(path, s"gen-${head + 1}")
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(stage)
    fs.create(new org.apache.hadoop.fs.Path(stage, "part-torn.parquet"),
      true).close() // garbage partial file, no commit marker
    val (_, a3) = Models.compactBucketed(spark, path)
    assert(a3 <= Models.IndexBuckets && m() == rows0,
      "partial staging generation corrupted the compacted table")
    // the torn rewrite was reclaimed, then the SAME index was reused
    // for the fresh committed generation — the garbage file is gone
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stage,
      "part-torn.parquet")), "torn generation not reclaimed")
    assert(Models.servingDir(spark, path) == stage.toString,
      "compaction did not claim the reclaimed generation index")
  }

  test("compactModelArtifacts: every bucketed family — appended and " +
      "one-shot — compacts to <= IndexBuckets files with rows and " +
      "bucket layout unchanged") {
    val all = Tables.documents(spark, sf)
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-compact-all").toString
    all.filter(h < "cc").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    Tables.embeddings(spark, sf).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val docs = Tables.documents(spark, dir)
    val batch = all.filter(h >= "cc" && h < "ee").select("doc_id", "text")
    assert(batch.count() > 0)
    // appended families: retrieval postings (tf + positional), LSH
    // (sets + bands), IVF-PQ codes — base build + one fold each
    Models.postings(spark, dir)
    Models.positionalPostings(spark, dir)
    Models.postingsAppend(spark, dir, batch, "doc_id", "text")
    Models.lshIndex(spark, dir, docs, "doc_id", "text")
    Models.lshIndexAppend(spark, dir, batch, "doc_id", "text")
    Models.ivfPqIndex(spark, dir)
    val src = Tables.embeddings(spark, dir)
      .orderBy("vec_id").limit(3).collect()
    val vb = src.map(r => (r.getLong(0) + 1000000L,
      r.getSeq[Float](r.fieldIndex("embedding")))).toSeq
      .toDF("vec_id", "embedding")
    Models.ivfPqIndexAppend(spark, dir, vb, "vec_id", "embedding")
    // one-shot bucketed trains: dedup cluster map, BPE dictionary
    Models.dedupMap(spark, dir)
    Models.bpe(spark, dir)
    val arts = Seq(
      Models.postingsPath(dir), Models.positionalPostingsPath(dir),
      Models.docLensPath(dir), // per-fold-appended plain parquet
      Models.lshSetsPath(dir, 3), Models.lshBandsPath(dir, 32, 16, 3),
      Models.ivfPqCodesPath(dir, 16, 2, 8, 256),
      Models.dedupMapPath(dir, 50),
      Models.bpeSegsPath(dir, graft.operators.TextOps.BpeRounds))
    def artName(p: String) = p.split('/').last
    def snap(p: String): Seq[String] = {
      val df = spark.read.parquet(Models.servingDir(spark, p))
      df.selectExpr(df.columns.sorted
          .map(c => s"cast(`$c` as string)").toIndexedSeq: _*)
        .collect().map(_.toString).sorted.toSeq
    }
    val before = arts.map(p => p -> snap(p)).toMap
    val res = Models.compactModelArtifacts(spark, dir)
    // the walk found every family, nothing else
    assert(res.keySet == arts.map(artName).toSet, res.toString)
    res.foreach { case (n, (b0, a0)) =>
      assert(a0 <= Models.IndexBuckets && a0 <= b0,
        s"$n: files $b0 -> $a0 (want <= ${Models.IndexBuckets})")
    }
    // the folded retrieval index really had fragmented first
    assert(res(artName(Models.postingsPath(dir)))._1 >
      Models.IndexBuckets, res.toString)
    // rows byte-identical per artifact
    arts.foreach { p =>
      assert(snap(p) == before(p), s"rows changed for ${artName(p)}")
    }
    // bucket layout intact for each distinct bucket column
    Seq(
      Models.postings(spark, dir).groupBy("tok").count() -> "tok",
      Models.ivfPqIndex(spark, dir)._3.groupBy("cid").count() -> "cid",
      Models.dedupMap(spark, dir).groupBy("id").count() -> "id",
      Models.bpe(spark, dir)._2.groupBy("word").count() -> "word")
      .foreach { case (q, c) =>
        val p = q.queryExecution.executedPlan.toString
        assert(!p.contains(s"Exchange hashpartitioning($c"),
          s"compaction lost the $c bucket spec:\n$p")
      }
  }

  test("ivf-pq rebuild: the drift repair retrains all three artifact " +
      "families in place, byte-identical to a from-scratch retrain") {
    val all = Tables.embeddings(spark, sf)
    val h = md5(encode(col("vec_id").cast("string"), "UTF-8"))
    // base corpus = the < cc slice; the fold brings the rest
    val dirA = java.nio.file.Files
      .createTempDirectory("graft-rebuild-live").toString
    all.filter(h < "cc").write.mode("overwrite")
      .parquet(s"$dirA/embeddings.parquet")
    Models.ivfPqIndex(spark, dirA)
    val batch = all.filter(h >= "cc").select("vec_id", "embedding")
      .localCheckpoint(true)
    assert(batch.count() > 0)
    Models.ivfPqIndexAppend(spark, dirA, batch, "vec_id", "embedding")
    // the repair SCENARIO: with a threshold tightened below the
    // hottest cell's share, the next fold's guard trips and points at
    // the rebuild
    val ex = intercept[IllegalArgumentException] {
      Models.ivfPqIndexAppend(spark, dirA,
        batch.select((col("vec_id") + 9000000L).as("vec_id"),
          col("embedding")),
        "vec_id", "embedding", maxCellShareMilli = 1)
    }
    assert(ex.getMessage.contains("rebuild the quantizer"))
    // (that tripped fold's rows are durable — append-then-audit — so
    // the union corpus the operator rebuilds from includes them)
    val union = all.select("vec_id", "embedding").unionAll(batch
      .select((col("vec_id") + 9000000L).as("vec_id"),
        col("embedding")))
    // a torn staging set from a crashed earlier attempt (an
    // UNCOMMITTED next generation) must be reclaimed, never served
    val codesPath = Models.ivfPqCodesPath(dirA, 16, 2, 8, 256)
    val headBefore = Models.servingDir(spark, codesPath)
      .split('/').last.stripPrefix("gen-").toLong
    val stage = new org.apache.hadoop.fs.Path(codesPath,
      s"gen-${headBefore + 1}")
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(stage)
    fs.create(new org.apache.hadoop.fs.Path(stage, "part-torn.parquet"),
      true).close()
    val (cents, cbRows, codes) =
      Models.ivfPqRebuild(spark, dirA, union, "vec_id", "embedding")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stage,
      "part-torn.parquet")), "torn staging generation not reclaimed")
    // from-scratch retrain on the union corpus in a fresh dir
    val dirB = java.nio.file.Files
      .createTempDirectory("graft-rebuild-scratch").toString
    union.write.mode("overwrite").parquet(s"$dirB/embeddings.parquet")
    val (cents2, cbRows2, codes2) = Models.ivfPqIndex(spark, dirB)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.selectExpr(df.columns.sorted
          .map(c => s"cast(`$c` as string)").toIndexedSeq: _*)
        .collect().map(_.toString).sorted.toSeq
    assert(rows(cents) == rows(cents2), "quantizer != retrain")
    assert(rows(cbRows) == rows(cbRows2), "codebook != retrain")
    assert(rows(codes) == rows(codes2), "codes != retrain")
    // the rebuilt codes table starts at its minimal bucketed layout
    val codesDir = new org.apache.hadoop.fs.Path(
      Models.servingDir(spark, codesPath))
    val it = fs.listFiles(codesDir, true)
    var nFiles = 0
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) nFiles += 1
    }
    assert(nFiles <= Models.IndexBuckets, s"$nFiles files after rebuild")
    val plan = codes.groupBy("cid").count()
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(cid"),
      s"rebuild lost the cid bucket spec:\n$plan")
    // the daily loop resumes: a fold lands on the rebuilt index
    val before = codes.count()
    val s1 = Models.ivfPqIndexAppend(spark, dirA,
      batch.select((col("vec_id") + 8000000L).as("vec_id"),
        col("embedding")).limit(2),
      "vec_id", "embedding")
    assert(s1.agg(sum("n_appended")).head().getLong(0) == 2L)
    assert(Models.ivfPqIndex(spark, dirA)._3.count() == before + 2)
    // a crash MID-CUTOVER can only land between the quantizer/codebook
    // marker flips and the CODES marker flip (the codes marker's
    // pairing content publishes the whole triple atomically).
    // Simulate exactly that state: advance the quantizer family's head
    // with a freshly committed perturbed generation while the codes
    // head still pairs the previous one — serving must keep reading
    // the PAIRED quantizer, so a torn triple is UNOBSERVABLE (the
    // pre-r15 design could only fail fast here)
    val pairedCents = rows(Models.ivfPqIndex(spark, dirA)._1)
    val centPath = Models.ivfCentroidsPath(dirA, 16, 2)
    val (pn, pdir) = graft.sources.Generations.prepare(spark, centPath)
    spark.read.parquet(Models.servingDir(spark, centPath))
      .withColumn("cn2", col("cn2") * 2)
      .coalesce(1).write.parquet(pdir)
    graft.sources.Generations.commit(spark, centPath, pn)
    assert(rows(Models.ivfPqIndex(spark, dirA)._1) == pairedCents,
      "mid-cutover: codes served against an unpaired quantizer head")
    assert(rows(Models.ivfCentroids(spark, dirA, 16, 2)) != pairedCents,
      "test setup: the stray quantizer head did not advance")
    // re-running the rebuild repairs: all three families retrain and
    // re-pair; the post-rebuild fold's 2 rows (not in `union`) drop
    // out, and the result equals the from-scratch retrain again
    val (rc, _, repaired) =
      Models.ivfPqRebuild(spark, dirA, union, "vec_id", "embedding")
    assert(rows(repaired) == rows(codes2),
      "repaired index diverged from the retrain")
    assert(rows(rc) == rows(cents2),
      "repair did not re-pair the quantizer")
  }

  test("maintenance valves honor non-default hyperparameters: the " +
      "streaming loops fold and compact the EXACT artifact family " +
      "their params name, never the default one") {
    import spark.implicits._
    val all = Tables.documents(spark, sf)
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-valve-params").toString
    all.filter(h < "cc").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    Tables.embeddings(spark, sf).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // ---- LSH loop at (k=16, b=8, w=2) — non-default everywhere
    Models.lshIndex(spark, dir, Tables.documents(spark, dir),
      "doc_id", "text", k = 16, b = 8, w = 2)
    val setsBefore = Models.lshIndex(spark, dir, sys.error("trained"),
      "doc_id", "text", 16, 8, 2)._2.count()
    val newDocs = all.filter(h >= "cc").select("doc_id", "text")
      .collect()
    assert(newDocs.length >= 2)
    val (b1, b2) = newDocs.splitAt(newDocs.length / 2)
    val got = scala.collection.mutable.Map[Long, Long]()
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.EventStreams.DocEvent](spark)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-valve-ckpt").toString
    val q = graft.streaming.EventStreams.dedupMaintenance(
      input.toDS(), dir, ckpt, (df, bid) => { got(bid) = df.count(); () },
      compactEvery = 2, k = 16, b = 8, w = 2)
    def ev(r: org.apache.spark.sql.Row) =
      graft.streaming.EventStreams.DocEvent(r.getLong(0),
        java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), r.getString(1))
    try {
      input.addData(b1.map(ev).toSeq); q.processAllAvailable()
      input.addData(b2.map(ev).toSeq); q.processAllAvailable()
    } finally q.stop()
    assert(got(0L) == b1.length && got(1L) == b2.length, got.toString)
    // the folds and the in-loop compaction hit the (16,8,2) family
    val sets2 = Models.lshIndex(spark, dir, sys.error("trained"),
      "doc_id", "text", 16, 8, 2)._2
    assert(sets2.count() == setsBefore + newDocs.length,
      "folds did not land in the parameterized family")
    def nFiles(p: String): Long = {
      val d = new org.apache.hadoop.fs.Path(Models.servingDir(spark, p))
      val it = fs.listFiles(d, true)
      var n = 0L
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    assert(nFiles(Models.lshSetsPath(dir, 2)) <= Models.IndexBuckets,
      "in-loop compaction missed the parameterized sets family")
    assert(nFiles(Models.lshBandsPath(dir, 16, 8, 2)) <=
      Models.IndexBuckets,
      "in-loop compaction missed the parameterized bands family")
    // the DEFAULT family was never created, let alone compacted
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      Models.lshSetsPath(dir, 3))),
      "the loop touched the default-parameter family")
    // ---- ANN loop at (nList=8, iters=1, m=4, ksub=16)
    Models.ivfPqIndex(spark, dir, nList = 8, iters = 1, m = 4,
      ksub = 16)
    val codesBefore = Models.ivfPqIndex(spark, dir, 8, 1, 4, 16)
      ._3.count()
    val vsrc = Tables.embeddings(spark, dir)
      .orderBy("vec_id").limit(2).collect()
    val vinput = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.EventStreams.VecEvent](spark)
    val vckpt = java.nio.file.Files
      .createTempDirectory("graft-valve-vckpt").toString
    val vq = graft.streaming.EventStreams.indexMaintenance(
      vinput.toDF(), dir, vckpt, compactEvery = 2,
      nList = 8, iters = 1, m = 4, ksub = 16)
    try {
      vsrc.zipWithIndex.foreach { case (r, i) =>
        vinput.addData(graft.streaming.EventStreams.VecEvent(
          r.getLong(0) + 4000000L + i,
          r.getSeq[Float](r.fieldIndex("embedding"))))
        vq.processAllAvailable()
      }
    } finally vq.stop()
    assert(Models.ivfPqIndex(spark, dir, 8, 1, 4, 16)._3.count() ==
      codesBefore + 2, "ANN folds did not land in the param family")
    assert(nFiles(Models.ivfPqCodesPath(dir, 8, 1, 4, 16)) <=
      Models.IndexBuckets,
      "in-loop compaction missed the parameterized codes family")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      Models.ivfPqCodesPath(dir, 16, 2, 8, 256))),
      "the ANN loop touched the default-parameter family")
  }

  test("vacuum: staging debris across families — orphan generations, " +
      "tok_staging, legacy dirs, crashed _tmp_ markers — is reclaimed; " +
      "committed artifacts are untouched") {
    val all = Tables.documents(spark, sf)
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vacuum").toString
    all.filter(h < "cc").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    Models.buildRetrievalArtifacts(spark, dir)
    def m() = Models.postings(spark, dir)
      .select("tok", "doc_id", "tf")
      .collect().map(_.toString).sorted.toSeq
    val rows0 = m()
    val rootP = new org.apache.hadoop.fs.Path(Models.root(dir))
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // deliberately-torn state, one of each debris class:
    // (a) orphan uncommitted generation under a live family
    val orphan = new org.apache.hadoop.fs.Path(
      Models.postingsPath(dir), "gen-77")
    fs.mkdirs(orphan)
    fs.create(new org.apache.hadoop.fs.Path(orphan, "part-torn.parquet"),
      true).close()
    // (b) a crashed single-pass tokenize staging dir
    val tok = new org.apache.hadoop.fs.Path(Models.root(dir),
      "tok_staging")
    fs.mkdirs(tok)
    // (c) a legacy pre-generation staging sibling
    val legacy = new org.apache.hadoop.fs.Path(Models.root(dir),
      "postings__compacting")
    fs.mkdirs(legacy)
    // (d) a crashed _tmp_ commit-marker file inside a family
    val tmpm = new org.apache.hadoop.fs.Path(
      Models.postingsPath(dir), "_tmp_deadbeef")
    fs.create(tmpm, true).close()
    val reclaimed = Models.vacuum(spark, dir, minAgeMs = 0L)
    assert(reclaimed.size == 4, s"reclaimed: $reclaimed")
    Seq(orphan, tok, legacy, tmpm).foreach { p =>
      assert(!fs.exists(p), s"debris survived vacuum: $p")
    }
    // committed artifacts untouched: same serving dir, same rows
    assert(m() == rows0, "vacuum corrupted a committed artifact")
    // idempotent: a second sweep finds nothing
    assert(Models.vacuum(spark, dir, minAgeMs = 0L).isEmpty)
    // the age gate protects a LIVE writer's in-flight staging
    fs.mkdirs(orphan)
    assert(Models.vacuum(spark, dir).isEmpty,
      "vacuum deleted young staging the age gate should protect")
    assert(fs.exists(orphan))
  }

  test("slow-reader retention: a reader that resolved the head before " +
      "THREE rapid compaction cutovers still completes — the reclaim " +
      "age floor holds its generation past the keep-2 distance") {
    val all = Tables.documents(spark, sf)
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-slow-reader").toString
    all.filter(h < "cc").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    Models.postings(spark, dir)
    val path = Models.postingsPath(dir)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val rows0 = m(Models.postings(spark, dir)
      .select("tok", "doc_id", "tf"))
    // the slow reader: resolves the head NOW, collects only after the
    // maintenance loop has cut over three more times — under pure
    // keep-2 its generation would be reclaimed at the second cutover
    val readerGen = Models.servingDir(spark, path)
    val slowReader = spark.read.parquet(readerGen)
      .select("tok", "doc_id", "tf")
    (1 to 3).foreach { i =>
      // each fold+compact advances the head one generation
      Models.postingsAppend(spark, dir,
        all.filter(h >= "cc").limit(i).select("doc_id", "text"),
        "doc_id", "text", dedupeIds = false)
      Models.compactBucketed(spark, path)
    }
    val headGen = Models.servingDir(spark, path)
    assert(headGen != readerGen)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(readerGen)),
      "age floor failed: three rapid cutovers reclaimed a generation " +
        "younger than the floor")
    assert(m(slowReader) == rows0,
      "the slow reader lost rows across three cutovers")
  }

  test("drift lifecycle end-to-end: streaming folds trip the guard, " +
      "ivfPqRebuild repairs, the restarted stream replays the tripped " +
      "batch idempotently and folds new data against the NEW " +
      "generation") {
    import spark.implicits._
    val all = Tables.embeddings(spark, sf)
    val h = md5(encode(col("vec_id").cast("string"), "UTF-8"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-drift-e2e").toString
    val base = all.filter(h < "cc").localCheckpoint(true)
    base.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val (_, _, codes0) = Models.ivfPqIndex(spark, dir)
    val servedGen0 = Models.servingDir(spark,
      Models.ivfPqCodesPath(dir, 16, 2, 8, 256))
    // measure the base distribution and set the guard with headroom:
    // a 1-row fold cannot trip it, a hot-cell pile-up must
    val cellStats = codes0.groupBy("cid").count().collect()
    val total0 = cellStats.map(_.getLong(1)).sum
    val hot = cellStats.maxBy(_.getLong(1))
    assert(total0 >= 20, s"base too small for share headroom: $total0")
    val guardMilli =
      (hot.getLong(1) * 1000 / total0 + 60).toInt // +6% headroom
    // batch 0: one organic vector (passes the guard); batch 1: the
    // DRIFTED ingest — total0 copies of a hottest-cell vector, piling
    // one cell past the threshold
    val src = all.orderBy("vec_id").limit(2).collect()
    val hotVec = codes0.filter(col("cid") === hot.getLong(0))
      .select("nid").orderBy("nid").limit(1).collect().head.getLong(0)
    val hotEmb = base.filter(col("vec_id") === hotVec)
      .select("embedding").collect().head.getSeq[Float](0)
    val b1 = (0 until total0.toInt)
      .map(j => (6000000L + j, hotEmb)).toDF("vec_id", "embedding")
      .localCheckpoint(true)
    def ev(id: Long, emb: Seq[Float]) =
      graft.streaming.EventStreams.VecEvent(id, emb)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-drift-ckpt").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.EventStreams.VecEvent](spark)
    // phase 1: fold, then trip — the stream FAILS (the operational
    // signal that points at the rebuild); the tripped batch's rows are
    // already durable (append-then-audit)
    val q1 = graft.streaming.EventStreams.indexMaintenance(
      input.toDF(), dir, ckpt, maxCellShareMilli = guardMilli)
    try {
      input.addData(ev(src(0).getLong(0) + 5000000L,
        src(0).getSeq[Float](src(0).fieldIndex("embedding"))))
      q1.processAllAvailable()
      input.addData(b1.collect().map(r =>
        ev(r.getLong(0), r.getSeq[Float](1))).toSeq)
      val ex = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
      assert(ex.toString.contains("drift guard") ||
        Option(ex.getCause).exists(_.getMessage.contains("drift guard")),
        s"unexpected stream failure: $ex")
    } finally q1.stop()
    val durable = Models.ivfPqIndex(spark, dir)._3.count()
    assert(durable == total0 + 1 + total0,
      s"tripped batch's rows not durable: $durable")
    // phase 2: the repair — rebuild from the full current corpus
    // (base + both folded batches, the raw vectors the folds landed)
    val corpus = base.select("vec_id", "embedding")
      .unionAll(Seq((src(0).getLong(0) + 5000000L,
        src(0).getSeq[Float](src(0).fieldIndex("embedding"))))
        .toDF("vec_id", "embedding"))
      .unionAll(b1)
    Models.ivfPqRebuild(spark, dir, corpus, "vec_id", "embedding")
    val servedGen1 = Models.servingDir(spark,
      Models.ivfPqCodesPath(dir, 16, 2, 8, 256))
    assert(servedGen1 != servedGen0, "rebuild did not advance the head")
    // phase 3: restart the stream on the SAME checkpoint. Batch 1 has
    // NO applied marker (it died before the marker), so it REPLAYS —
    // and folds to a no-op through dedupeIds (every id already in the
    // rebuilt index); batch 2 is new and lands IN the new generation
    val q2 = graft.streaming.EventStreams.indexMaintenance(
      input.toDF(), dir, ckpt, maxCellShareMilli = 1000)
    try {
      input.addData(ev(src(1).getLong(0) + 7000000L,
        src(1).getSeq[Float](src(1).fieldIndex("embedding"))))
      q2.processAllAvailable()
    } finally q2.stop()
    val codesAfter = Models.ivfPqIndex(spark, dir)._3
    assert(codesAfter.count() == durable + 1,
      s"replay was not idempotent or the new fold is missing: " +
        s"${codesAfter.count()} vs ${durable + 1}")
    assert(codesAfter.filter(col("nid") === src(1).getLong(0) + 7000000L)
      .count() == 1L, "post-rebuild fold did not land")
    assert(Models.servingDir(spark,
      Models.ivfPqCodesPath(dir, 16, 2, 8, 256)) == servedGen1,
      "the fold advanced the head instead of appending into it")
  }

  test("dedup map fold: batch rows land, a bridge doc MERGES base " +
      "clusters through the remap ledger, resolved map == retrain; " +
      "compactDedupMap folds the ledger in") {
    // 40 distinct tokens per doc, w=3 shingles (38/doc): 2 consecutive
    // interior changed tokens flip 4 shingles -> J = 34/42 = 0.8095
    // (just above the 0.8 gate); 4 changed flip 6 -> 32/44 = 0.727
    // (below); changes at positions 1-2 flip only 2 -> 36/40 = 0.9
    def doc(id: Long, change: Map[Int, String]): (Long, String) =
      (id, (1 to 40).map(i => change.getOrElse(i, s"t$i")).mkString(" "))
    val base = Seq(
      doc(10, Map(1 -> "a1", 2 -> "a2")), // cluster X seed
      doc(11, Map(1 -> "a1", 2 -> "a2")), // exact dup -> X = {10, 11}
      doc(20, Map(20 -> "b1", 21 -> "b2")), // singleton Y
      doc(30, Map(28 -> "c1", 29 -> "c2", 30 -> "c3", 31 -> "c4")), // Z
      doc(40, (1 to 10).map(i => i -> s"z$i").toMap)) // far singleton
      .toDF("doc_id", "text")
    val dirA = java.nio.file.Files
      .createTempDirectory("graft-mapfold-live").toString
    base.write.mode("overwrite").parquet(s"$dirA/documents.parquet")
    val m0 = Models.dedupMap(spark, dirA, 80).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m0 == Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 30L -> 30L,
      40L -> 40L), s"base map: $m0")
    Models.lshIndex(spark, dirA,
      Tables.documents(spark, dirA), "doc_id", "text")
    // fold 1: E(50) = the unmodified token run — within the gate of
    // BOTH cluster X (J=0.9) and singleton Y (J=0.8095) while X-Y sit
    // below it (0.727): the fold must MERGE {10,11} with {20}
    val fold1 = Seq(doc(50, Map.empty)).toDF("doc_id", "text")
    Models.dedupMapAppend(spark, dirA, fold1, "doc_id", "text", 80)
    def resolved(): Map[Long, Long] =
      Models.dedupMapResolved(spark, dirA, 80).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r1 = resolved()
    assert(r1 == Map(10L -> 10L, 11L -> 10L, 20L -> 10L, 50L -> 10L,
      30L -> 30L, 40L -> 40L), s"after fold 1: $r1")
    // the merge ledger recorded Y's collapse, flat
    val remap1 = spark.read.parquet(
      Models.servingDir(spark, Models.dedupRemapPath(dirA, 80)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(remap1 == Map(20L -> 10L), s"remap after fold 1: $remap1")
    // fold 2: F(60) bridges the MERGED cluster with Z — J(F, E) =
    // J(F, Z) = 0.8095, so the component spans labels {10, 30}: the
    // old (20 -> 10) row must stay flat while (30 -> 10) lands
    val fold2 = Seq(doc(60, Map(28 -> "c1", 29 -> "c2")))
      .toDF("doc_id", "text")
    Models.dedupMapAppend(spark, dirA, fold2, "doc_id", "text", 80)
    val r2 = resolved()
    assert(r2 == Map(10L -> 10L, 11L -> 10L, 20L -> 10L, 50L -> 10L,
      30L -> 10L, 60L -> 10L, 40L -> 40L), s"after fold 2: $r2")
    val remap2 = spark.read.parquet(
      Models.servingDir(spark, Models.dedupRemapPath(dirA, 80)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(remap2 == Map(20L -> 10L, 30L -> 10L),
      s"remap after fold 2: $remap2")
    // fold == retrain: a from-scratch map over the union corpus in a
    // fresh dir equals the resolved fold product
    val dirB = java.nio.file.Files
      .createTempDirectory("graft-mapfold-scratch").toString
    base.unionAll(fold1).unionAll(fold2).write.mode("overwrite")
      .parquet(s"$dirB/documents.parquet")
    val retrain = Models.dedupMap(spark, dirB, 80).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == retrain, s"fold $r2 != retrain $retrain")
    // at-least-once replay folds to a no-op
    val n2 = Models.dedupMap(spark, dirA, 80).count()
    Models.dedupMapAppend(spark, dirA, fold2, "doc_id", "text", 80,
      dedupeIds = true)
    assert(Models.dedupMap(spark, dirA, 80).count() == n2 &&
      resolved() == r2, "replayed fold changed the map")
    // resolved-read plan shape while the ledger is live: the remap
    // BROADCASTS and the map side keeps its id buckets — resolution
    // never shuffles the map
    val rplan = Models.dedupMapResolved(spark, dirA, 80)
      .groupBy("id").count()
      .queryExecution.executedPlan.toString
    assert(rplan.contains("BroadcastHashJoin"), s"remap not broadcast:\n$rplan")
    assert(!rplan.contains("Exchange hashpartitioning(id"),
      s"resolved read shuffled the map:\n$rplan")
    // compactDedupMap folds the ledger into the base rows: remap gone,
    // raw read == resolved read, minimal layout, bucket pin intact
    val (b0, a0) = Models.compactDedupMap(spark, dirA, 80)
    assert(a0 <= Models.IndexBuckets && a0 <= b0, s"files $b0 -> $a0")
    val fs = new org.apache.hadoop.fs.Path(dirA)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      Models.dedupRemapPath(dirA, 80))), "remap not folded in")
    val raw = Models.dedupMap(spark, dirA, 80).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(raw == r2, s"compacted raw rows $raw != resolved $r2")
    val plan = Models.dedupMap(spark, dirA, 80).groupBy("id").count()
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(id"),
      s"compaction lost the id bucket spec:\n$plan")
    // the daily loop resumes on the compacted map
    Models.dedupMapAppend(spark, dirA,
      Seq(doc(70, (11 to 20).map(i => i -> s"y$i").toMap))
        .toDF("doc_id", "text"),
      "doc_id", "text", 80)
    assert(resolved()(70L) == 70L, "post-compact fold did not land")
  }

  /** A run-private corpus: the md5 slice `h < "cc"` of the test
    * corpus's documents under a fresh dir. */
  private def sliceCorpus(prefix: String): String = {
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    Tables.documents(spark, sf).filter(h < "cc").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  private def modelTableLocations(): Map[String, String] =
    spark.catalog.listTables().collect()
      .filter(t => !t.isTemporary && t.name.startsWith("graft_model_"))
      .map(t => t.name -> new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t.name)).location)
        .toUri.getPath)
      .toMap

  // drop deletes the whole corpus root, so it must unregister every
  // catalog table under it — the dedup map's too, not only the LSH
  // pair — and nothing of any other corpus
  test("drop unregisters exactly the catalog tables under its root") {
    val dir = sliceCorpus("graft-drop")
    Models.dedupMap(spark, dir, 80)
    Models.lshIndex(spark, dir, Tables.documents(spark, dir),
      "doc_id", "text")
    Models.postings(spark, sf) // another corpus's table
    val under = new org.apache.hadoop.fs.Path(Models.root(dir))
      .toUri.getPath + "/"
    val otherTables = modelTableLocations()
      .filter { case (_, loc) => !loc.startsWith(under) }
    assert(modelTableLocations().values.count(_.startsWith(under)) == 3)
    Models.drop(spark, dir)
    val left = modelTableLocations()
    assert(!left.values.exists(_.startsWith(under)),
      s"tables left over the dropped root: $left")
    assert(otherTables.keySet.subsetOf(left.keySet))
    assert(!new java.io.File(Models.root(dir)).exists())
  }

  // every Spark job of a fold and a compaction walk carries the
  // maintenance step's description under the caller's, and the
  // caller's is restored
  test("maintenance jobs are described models:<family>:<phase>") {
    val dir = sliceCorpus("graft-jobdesc")
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val batch = Tables.documents(spark, sf)
      .filter(h >= "cc" && h < "ee").select("doc_id", "text")
    Models.buildRetrievalArtifacts(spark, dir)
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        descs.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.job.description"))
            .orNull))
        ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription("caller")
      Models.postingsAppend(spark, dir, batch, "doc_id", "text",
        dedupeIds = true)
      Models.compactModelArtifacts(spark, dir)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      // the bus delivers in order: once a sentinel job's start arrives,
      // every maintenance job's has
      sc.setJobDescription("sentinel")
      spark.range(1).collect()
      val deadline = System.currentTimeMillis() + 30000L
      while (!descs.contains("sentinel") &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val seen = descs.asScala.toSeq.takeWhile(_ != "sentinel")
    assert(descs.contains("sentinel"), "listener bus never drained")
    // the step label nests under the caller's: neither is lost
    assert(seen.contains("caller > models:postings:fold") &&
      seen.contains("caller > models:postings:compact"),
      seen.distinct.toString)
    assert(seen.forall(_.startsWith("caller > models:")),
      seen.distinct.toString)
    Models.drop(spark, dir)
  }
}
