package graft.measure

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Measure, SfSynth, Tables}
import graft.operators.{Dedup, Similarity}
import graft.sources.Models

/** Decade scale-ratio protocol (`Measure scale <copies>`): the same
  * rows timed on a `copies`-shard [[SfSynth]] corpus and on the corpus
  * one decade down (`copies / 10` shards, or the base sf0.1 dir itself
  * below two shards), in the same JVM and session so the ratio cancels
  * host skew. Disjoint shards are the honest scale-up: naive
  * replication would make every document an N-way near-duplicate and
  * grade the synthetic, not the engine.
  *
  * Up to 10 copies the rows are the sf1 decade — the heaviest folded
  * families plus the semantic-dedup and pure-fold receipts — written to
  * `BENCH_sf1.json` with `sf1_sec`/`sf01_sec`; above 10 they are the
  * sf10 decade — the indexed serving paths plus steady-state
  * maintenance receipts — written to `BENCH_sf10.json` with
  * `sf10_sec`/`sf1_sec`. Registry rows take the min of two passes; a
  * row that failed at either scale reads ratio -1 with `"failed":true`
  * and its error in `errors`. The interpretation gate is ≈10x per 10x
  * rows for corpus-sized work and ≤ ~2x for the serving paths, which
  * read O(probed buckets), not the corpus. */
object ScaleRatio {

  /** sf1-decade registry rows: the heaviest families at sf0.1, the
    * index fold/serve paths and the maintenance lifecycle gates. */
  val Heavy = Seq(
    "ds_daily_pipeline",
    "dd_jaccard_pairs", "dd_clusters", "dd_survivors", "dd_dup_weights",
    "dd_semdedup", "tx_subword_vocab",
    "sim_pq_adc", "sim_ivfpq", "sim_ivfpq_sweep", "sim_ivfpq_append",
    "tx_lm_score", "tx_lm_score_indexed",
    "tx_bm25_topk", "tx_bm25_postings",
    "tx_phrase_match", "tx_near_match",
    "tx_bm25_append", "tx_bm25_compacted",
    "dd_incremental_append", "sim_ivfpq_rebuild", "dd_map_append",
    "maint_vacuum_cutover", "maint_history")

  /** sf10-decade registry rows: the indexed serving paths. */
  val Steady = Seq(
    "tx_bm25_postings", "dd_incremental_indexed", "sim_ivfpq_indexed",
    "dd_survivors_indexed")

  /** A non-registry row timed like a registry query: untimed set-up on
    * a corpus dir, given `k`, its size relative to the decade's low end
    * (1 there, 10 at a full decade's high end), returning the frame to
    * time. */
  type Frame = (SparkSession, String, Int) => () => DataFrame
  /** A fold receipt: seconds for a corpus dir ([[steadyFold]]). */
  type Fold = (SparkSession, String) => Double

  final case class Decade(hi: String, lo: String, queries: Seq[String],
      frames: Seq[(String, Frame)], folds: Seq[(String, Fold)])

  def run(spark: SparkSession, base: String, copies: Int): Unit = {
    val d = if (copies > 10) sf10 else sf1
    def corpus(n: Int): String =
      if (n < 2) base
      else {
        val dir = s"${sys.props("user.dir")}/target/synth_x$n"
        SfSynth.ensure(spark, base, n, dir)
        dir
      }
    val lo = copies / 10
    val (loDir, hiDir) = (corpus(lo), corpus(copies))
    val names = d.queries ++ d.frames.map(_._1)
    def measure(dir: String, k: Int) = {
      val frames = d.frames.map { case (n, f) => n -> f(spark, dir, k) }.toMap
      (Measure.timePasses(spark, names, 2)(n =>
        frames.get(n).fold(Measure.queryAt(dir)(n))(_())),
        d.folds.map { case (n, f) => n -> f(spark, dir) }.toMap)
    }
    val (tLo, fLo) = measure(loDir, 1)
    val (tHi, fHi) = measure(hiDir, copies / math.max(lo, 1))
    val rows = names.map { n =>
      val failed = tLo.errors.contains(n) || tHi.errors.contains(n)
      val (a, b) = (tHi.min(n), tLo.min(n))
      (n, a, b, if (failed || b <= 0) -1.0 else a / b, failed)
    } ++ d.folds.map { case (n, _) => (n, fHi(n), fLo(n), fHi(n) / fLo(n), false) }
    val errors = tLo.errors.map { case (n, e) => s"$n@$loDir" -> e } ++
      tHi.errors.map { case (n, e) => s"$n@$hiDir" -> e }
    val json = Measure.obj(
      "metric" -> s"${d.hi}_scaling", "copies" -> copies,
      "canary" -> (tLo.canaries ++ tHi.canaries).map(Measure.r3),
      "queries" -> Measure.obj(rows.map { case (n, a, b, r, failed) =>
        n -> Measure.obj(Seq(s"${d.hi}_sec" -> Measure.r3(a),
          s"${d.lo}_sec" -> Measure.r3(b),
          "ratio" -> math.round(r * 100) / 100.0) ++
          (if (failed) Seq("failed" -> true) else Nil): _*)
      }: _*),
      "errors" -> Measure.obj(errors.toSeq: _*))
    Measure.write(s"BENCH_${d.hi}.json", json.text)
    println(json)
    rows.foreach { case (n, a, b, r, failed) =>
      val tag = if (failed) "  FAILED" else ""
      println(f"  $n%-28s ${d.lo} $b%7.2f s   ${d.hi} $a%7.2f s   x$r%.2f$tag")
    }
  }

  private def md5Of(c: String) = md5(encode(col(c).cast("string"), "UTF-8"))

  /** Base artifacts trained UNTIMED (production's one-off train) over
    * the md5 slice below "cc" of `table`, copied to a scratch corpus;
    * then two DIFFERENT batches folded in by `fold`, each timed, and the
    * faster returned. A replayed batch would no-op through dedupeIds —
    * a non-measurement. Batches are the md5 ranges [cc, e6) and [e6, g)
    * (a tenth of the corpus each), or with `fixed` two 2,000-row
    * batches above "cc" — a day-sized batch must cost the same against
    * a 10x index. */
  private def steadyFold(spark: SparkSession, src: String, table: String,
      id: String, value: String, fixed: Boolean, drop: String => Unit)
      (train: String => Unit)(fold: (String, DataFrame, Int) => Unit)
      : Double = {
    val all = spark.read.parquet(s"$src/$table.parquet")
    val h = md5Of(id)
    val tmp = java.nio.file.Files.createTempDirectory("graft-steady").toString
    try {
      all.filter(h < "cc").write.mode("overwrite")
        .parquet(s"$tmp/$table.parquet")
      train(tmp)
      val batches =
        if (fixed) Seq(0, 2000).map(off =>
          all.filter(h >= "cc").orderBy(id).offset(off).limit(2000))
        else Seq(("cc", "e6"), ("e6", "g")).map { case (a, b) =>
          all.filter(h >= a && h < b)
        }
      batches.zipWithIndex.map { case (b, i) =>
        val batch = b.select(id, value).localCheckpoint(true)
        Measure.seconds(fold(tmp, batch, i))
      }.min
    } finally {
      drop(tmp)
      SfSynth.rmTree(tmp)
    }
  }

  /** Per-batch ANN fold onto an IVF-PQ index trained untimed. */
  private val annSteady: (String, Fold) = ("sim_ivfpq_append_steady",
    (spark, dir) => steadyFold(spark, dir, "embeddings", "vec_id",
      "embedding", fixed = false, Models.drop(spark, _))(
      Models.ivfPqIndex(spark, _)) {
      (tmp, batch, _) => Measure.materialize(Models.ivfPqIndexAppend(
        spark, tmp, batch, "vec_id", "embedding"))
    })

  private def trainDedupMap(spark: SparkSession)(tmp: String): Unit = {
    Models.dedupMap(spark, tmp, 80)
    Models.lshIndex(spark, tmp, Tables.documents(spark, tmp), "doc_id",
      "text")
    ()
  }

  /** sf1-decade receipts. `dd_semdedup` with nList scaled with the
    * corpus (16 per decade-low corpus): within-cell pairwise work is
    * Θ(n²/nList), so a fixed nList grows it 10x per 10x rows — the
    * production knob (SemDedup: cells ∝ corpus) keeps the cell
    * population constant. Its steady-state form trains the quantizer
    * untimed (the persisted-artifact model), so per run it pays only
    * assignment plus bounded-cell pairwise work. The oracle-gated fold
    * queries pay base-train + fold + serve per run — the oracle tax —
    * so the fold receipts time the fold alone. */
  val sf1 = Decade("sf1", "sf01", Heavy, Seq(
    ("dd_semdedup_scaled_nlist", (spark, dir, k) => () =>
      Similarity.semDedup(spark.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", 0.4, nList = 16 * k, refineIters = 2)),
    ("dd_semdedup_steady_scaled", (spark, dir, k) => {
      val prep = Similarity.prepared(
        spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id",
        "embedding").localCheckpoint(true)
      val cents = Similarity.refinedCentroids(prep, 16 * k, 2)
        .localCheckpoint(true)
      () => Similarity.semDedupWith(prep, cents, 0.4)
    })), Seq(
    ("dd_map_append_steady", (spark, dir) => steadyFold(spark, dir,
      "documents", "doc_id", "text", fixed = false,
      Models.drop(spark, _))(trainDedupMap(spark)) {
      (tmp, batch, _) =>
        Models.dedupMapAppend(spark, tmp, batch, "doc_id", "text", 80)
    }),
    annSteady))

  /** sf10-decade receipts. Two registry queries have a
    * corpus-proportional term by construction, so each gets an
    * isolating twin: `dd_incremental_indexed` probes a fixed share of
    * the corpus (the fixed-probe twin holds the probe at 1,000 rows),
    * and `sim_ivfpq_indexed` probes a fixed nList=16 whose cells grow
    * with the corpus (the scaled-nList twin keeps nProbe constant with
    * nList ∝ corpus, so probed work per query stays constant). The
    * registry BM25 query's terms are the corpus's top-df tokens, whose
    * posting lists grow with the corpus; its twin queries tokens of
    * ONE shard (copy-1 content tokens, in every corpus of two or more
    * shards). The maintenance receipts fold fixed day-sized batches. */
  val sf10 = Decade("sf10", "sf1", Steady, Seq(
    ("dd_incremental_fixed_probe", (spark, dir, _) => {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val h = md5Of("doc_id")
      val (bands, sets) = Models.lshIndex(spark, dir, docs.filter(h < "cc"),
        "doc_id", "text")
      val probe = docs.filter(h >= "cc").orderBy("doc_id").limit(1000)
        .select("doc_id", "text").localCheckpoint(true)
      () => Dedup.incrementalDedupIndexed(bands, sets, probe, "doc_id",
        "text", 0.8)
    }),
    ("sim_ivfpq_scaled_nlist", (spark, dir, k) => {
      val prep = Similarity.prepared(
        spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id",
        "embedding").filter(size(col("qv")) === 64).localCheckpoint(true)
      val (cents, cbRows, codes) =
        Models.ivfPqIndex(spark, dir, nList = 16 * k)
      () => Materialize("scale:sim_ivfpq_scaled_nlist:score",
        Similarity.ivfPqScorePlan(prep, cents, cbRows, codes, k = 5,
          queryLimit = 10L, nProbe = 8, m = 8, dim = 64, rerank = 50))
    }),
    ("tx_bm25_local_terms", (spark, dir, _) => {
      val df = Models.dfTable(spark, dir)
      val lens = Models.docLens(spark, dir)
      val tot = lens.agg(count(lit(1)).as("nn"), sum("dl").as("s"))
      val terms = df.filter(col("tok").startsWith("c1x"))
        .orderBy(col("df").desc, col("tok")).offset(10).limit(5)
        .select("tok").localCheckpoint(true)
      () => Models.postings(spark, dir)
        .join(broadcast(terms), "tok")
        .join(broadcast(df), "tok")
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
        .orderBy(col("sc").desc, col("doc_id")).limit(20)
    })), Seq(
    annSteady,
    // one fold → compact → vacuum pass: compaction file COUNT is
    // bounded by IndexBuckets + fold fragments at both scales (bytes
    // grow with the index, the expected residual term), and vacuum
    // sweeps one planted orphan generation (a metadata-only walk)
    ("maint_lifecycle", (spark, dir) => steadyFold(spark, dir,
      "documents", "doc_id", "text", fixed = true,
      Models.drop(spark, _))(
      Models.buildRetrievalArtifacts(spark, _)) { (tmp, batch, i) =>
      Models.postingsAppend(spark, tmp, batch, "doc_id", "text",
        dedupeIds = true)
      Models.compactRetrievalIndexes(spark, tmp)
      val post = new org.apache.hadoop.fs.Path(Models.postingsPath(tmp))
      post.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .mkdirs(new org.apache.hadoop.fs.Path(post, s"gen-${900 + i}"))
      Models.vacuum(spark, tmp, minAgeMs = 0L)
      ()
    }),
    // the dedup-map daily fold: index-probed cross edges, exact
    // batch-internal edges, mini component pass, merge-remap ledger
    ("dd_map_fold_steady", (spark, dir) => steadyFold(spark, dir,
      "documents", "doc_id", "text", fixed = true,
      Models.reset(spark, _))(trainDedupMap(spark)) {
      (tmp, batch, _) => Models.dedupMapAppend(spark, tmp, batch,
        "doc_id", "text", 80, dedupeIds = true)
    })))
}
