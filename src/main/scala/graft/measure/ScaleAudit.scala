package graft.measure

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.{Measure, SfSynth, SparkEntry}
import graft.Measure.obj
import graft.functions.BoundedGlobalKey
import graft.operators.{Dedup, Similarity, Temporal, TextOps}
import graft.sources.{Generations, Lake, MaintenanceLog, Models}

/** `Measure audit`: the scale claims SCALE.md makes for 100 TB,
  * MEASURED from executed plans' metrics (not plan text) on synthetic
  * tables 10-50x the sf0.1 row counts, written to `SCALE_METRICS.json`:
  * a bucket/range/inode read touches one hash dir and the row groups
  * its range overlaps; co-located joins and the per-doc metric pipeline
  * never shuffle their key; IVF assignment, Bloom decontamination and
  * the temporal joins stay within their shuffle shapes; no registered
  * query feeds a corpus-sized input into an unpartitioned window; and
  * the maintenance loop's fold, compaction, vacuum and event ledger
  * stay bounded. */
object ScaleAudit {

  /** numFiles/bytes/rows actually read by `df`'s first file scan.
    * Execution goes through `df`'s own QueryExecution: `df.foreach` /
    * `df.rdd` deserialize through a NEW one and leave the inspected
    * plan's metrics at zero. */
  def scanMetrics(df: DataFrame): (Long, Long, Long) = {
    df.queryExecution.toRdd.count()
    val exec = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan // AQE: final plan
      case p => p
    }
    val scans = exec.collectLeaves().collect { case s: FileSourceScanExec => s }
    require(scans.nonEmpty, "no file scan in plan")
    val m = scans.head.metrics
    (m("numFiles").value, m("filesSize").value, m("numOutputRows").value)
  }

  /** `df`'s row count and the shuffle bytes its execution wrote,
    * followed by `extra` fields. */
  private def shuffleAudit(df: DataFrame, extra: (String, Any)*): Measure.Js = {
    val (rows, r) = Measure.recorded(df.sparkSession)(
      df.queryExecution.toRdd.count())
    obj(Seq("rows" -> rows, "shuffle_bytes" -> r.shuffleWriteBytes.get) ++
      extra: _*)
  }

  private def planText(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Lines of `df`'s executed plan text naming `s` — the adaptive
    * root's text, initial plan included, as the committed counts were
    * taken. */
  private def countLines(df: DataFrame, s: String): Long =
    planText(df).linesIterator.count(_.contains(s)).toLong

  def run(spark: SparkSession, sfDir: String): Unit = {
    val root = java.nio.file.Files.createTempDirectory("scale_audit").toString
    try write(spark, sfDir, root) finally SfSynth.rmTree(root)
  }

  /** Every section is measured where the JSON names it, so the object
    * below lists the audit in execution order: session settings it
    * changes (broadcast off for the co-location join, AQE off from the
    * IVF section on) hold for the sections after it. */
  private def write(spark: SparkSession, sfDir: String, root: String): Unit = {
    val nPart = Lake.DefaultParts // 64, the production default
    // 250k objects over 25 buckets (sf0.1 holds 5k docs → sf1 ≈ 50k;
    // 5x beyond makes the pruning ratios vivid)
    val nObjects = 250000L
    val nBuckets = 25
    val objects = spark.range(nObjects).select(
      concat(lit("tenant"), (col("id") % nBuckets).cast("string"))
        .as("bucket"),
      concat(lit("data/"), lpad((col("id") % 7).cast("string"), 2, "0"),
        lit("/obj_"), lpad(col("id").cast("string"), 9, "0"), lit(".bin"))
        .as("object"),
      col("id").as("inode"),
      (col("id") % 4096L * 17L).as("size"),
      md5(col("id").cast("string")).as("checksum"))
    Lake.writeObjects(objects, s"$root/objects", nPart)
    val total = scanMetrics(spark.read.parquet(s"$root/objects"))
    def bucketRead = Lake.readBucket(spark, s"$root/objects", "tenant7", nPart)
    val one = scanMetrics(bucketRead)
    // chunks layout: 2M chunk rows across 100k inodes
    val nChunks = 2000000L
    val chunks = spark.range(nChunks).select(
      (col("id") % 100000L).as("inode"),
      (col("id") / 100000L * 65536L).as("offset"),
      lit(65536).as("chunksize"),
      md5(col("id").cast("string")).as("payload"))
      .withColumn("block", col("offset") - (col("offset") % (65536L * 4)))
    Lake.writeChunks(chunks, s"$root/chunks", nPart)
    val chunksTotal = scanMetrics(spark.read.parquet(s"$root/chunks"))
    val nDocs = 50000L
    val docsDf = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 40).map(k =>
        concat(lit("w"), ((col("id") + lit(k.toLong)) % 997L)
          .cast("string"))): _*).as("text"))
    val heldOut = docsDf.filter(col("doc_id") % 500L === 0L)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    val nVecs = 20000L
    val nEv = 2000000L

    val json = obj(
      "objects_rows" -> nObjects, "objects_buckets" -> nBuckets,
      "layout_parts" -> nPart,
      "full_scan" -> obj("files" -> total._1, "bytes" -> total._2,
        "rows" -> total._3),
      "bucket_read" -> obj("files" -> one._1, "bytes" -> one._2,
        "rows" -> one._3, "files_pct" -> pct(one._1, total._1),
        "bytes_pct" -> pct(one._2, total._2)),
      // the A6 range scan on top of the bucket read: prefix-bounded keys
      "range_read" -> {
        val r = scanMetrics(bucketRead
          .filter(col("object") >= "data/03/" && col("object") < "data/04/"))
        obj("files" -> r._1, "bytes" -> r._2, "rows" -> r._3)
      },
      "chunks_rows" -> nChunks,
      "chunks_full" -> obj("files" -> chunksTotal._1,
        "rows" -> chunksTotal._3),
      "inode_read" -> {
        val r = scanMetrics(
          Lake.readInode(spark, s"$root/chunks", 31337L, None, nPart))
        obj("files" -> r._1, "rows" -> r._3,
          "files_pct" -> pct(r._1, chunksTotal._1))
      },
      "bucketed_join" -> bucketedJoin(spark, root, objects, chunks),
      "corpus_rows" -> nDocs,
      "corpus_pipeline" -> corpusPipeline(spark, root, docsDf),
      "ivf_assign" -> {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val embs = spark.range(nVecs).select(
          col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)), d =>
            (((col("id") * 31L + d * 7L) % 1997L).cast("double") / 1000.0)
              .cast("float")).as("embedding"))
          .localCheckpoint(true)
        // the broadcast-centroid form's only shuffle is the nList-row
        // centroid aggregate — NEVER an O(corpus·nList) explode/shuffle
        // — and the plan carries no nList-sized literal; nList=16 vs
        // the SemDedup-realistic 1024 (≈ √corpus here)
        def assign(nList: Int) = {
          val prep = Similarity.prepared(embs, "vec_id", "embedding")
          val asg = Similarity.ivfAssign(prep,
            Similarity.refinedCentroids(prep, nList, 0))
          shuffleAudit(asg, "plan_chars" -> planText(asg).length)
        }
        obj("corpus_rows" -> nVecs, "nlist16" -> assign(16),
          "nlist1024" -> assign(1024))
      },
      // Bloom vs join decontamination: the Bloom probe never shuffles
      // the training gram table, the exact join shuffles every training
      // gram occurrence
      "decontaminate" -> obj("train_docs" -> nDocs,
        "held_docs" -> heldOut.count(),
        "bloom_probe" -> shuffleAudit(
          Dedup.bloomProbe(docsDf, heldOut, "doc_id", "text")),
        "exact_join" -> shuffleAudit(Dedup.contamination(docsDf, heldOut,
          "doc_id", "text", minShared = 5))),
      "temporal_sf1" -> temporal(spark, nEv),
      "global_windows_sf01" -> windowAudit(spark, sfDir),
      // dd_clusters: O(log diameter) pointer-jumping rounds, each a
      // bounded shuffle of the edge-touched vertex set
      "dd_clusters_sf01" -> {
        val (rows, cc) = Measure.recorded(spark) {
          SparkEntry.queries("dd_clusters")(spark, sfDir).count()
        }
        obj("rows" -> rows,
          "cc_iterations" -> Dedup.lastComponentsIterations,
          "shuffle_stages" -> cc.shuffleStages.get,
          "shuffle_bytes" -> cc.shuffleWriteBytes.get)
      },
      "ivfpq_append" -> ivfPqAppend(spark, root),
      "maintenance" -> maintenance(spark, s"$root/maint_sf1"))
    println(json)
    Measure.write("SCALE_METRICS.json", json.text)
  }

  /** Bucketed co-located join at sf1 row counts. The sort-merge path is
    * forced (a broadcast would hide whether co-location removed the
    * shuffle), and only exchanges that hash-partition the JOIN KEY
    * count: the claim is "the join key is never shuffled" (LakeSpec's
    * pinned assertion), not "the plan has no exchange anywhere". */
  private def bucketedJoin(spark: SparkSession, root: String,
      objects: DataFrame, chunks: DataFrame): Measure.Js = {
    spark.sql("DROP TABLE IF EXISTS sa_obj")
    spark.sql("DROP TABLE IF EXISTS sa_chk")
    Lake.writeBucketedTable(objects.select("inode", "bucket", "object"),
      "sa_obj", s"$root/bt_obj", "inode", 32)
    Lake.writeBucketedTable(chunks.select("inode", "offset", "chunksize"),
      "sa_chk", s"$root/bt_chk", "inode", 32)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined = spark.table("sa_obj").join(spark.table("sa_chk"), "inode")
    val rows = joined.queryExecution.toRdd.count()
    obj("inode_hash_exchanges" ->
      countLines(joined, "Exchange hashpartitioning(inode"),
      "sort_merge" -> (countLines(joined, "SortMergeJoin") > 0),
      "rows" -> rows)
  }

  /** Corpus co-location: the per-doc metric pipeline (tx_repetition's
    * join+agg shape) over a doc_id-bucketed table plans with ZERO doc_id
    * exchanges — the bucketed scan's hash(doc_id) satisfies the
    * (doc_id, word) and (doc_id) groupings and both join sides — while
    * the same files read WITHOUT the bucket spec shuffle on doc_id. */
  private def corpusPipeline(spark: SparkSession, root: String,
      docsDf: DataFrame): Measure.Js = {
    spark.sql("DROP TABLE IF EXISTS sa_docs")
    Lake.writeBucketedTable(docsDf, "sa_docs", s"$root/bt_docs",
      "doc_id", 32)
    def docIdExchanges(src: DataFrame): (Long, Long) = {
      val docs = src.select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      val top = docs.select(col("doc_id"), explode(col("w")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("n"))
        .groupBy("doc_id").agg(max(col("n")).as("top_n"))
      val df = docs.join(top.hint("merge"), "doc_id").select(col("doc_id"),
        (col("top_n").cast("double") / size(col("w")).cast("double"))
          .as("top_word_ratio"))
      (df.queryExecution.toRdd.count(),
        countLines(df, "Exchange hashpartitioning(doc_id"))
    }
    val (bkRows, bkEx) = docIdExchanges(spark.table("sa_docs"))
    val (plRows, plEx) = docIdExchanges(spark.read.parquet(s"$root/bt_docs"))
    obj("bucketed_docid_exchanges" -> bkEx, "plain_docid_exchanges" -> plEx,
      "bucketed_rows" -> bkRows, "plain_rows" -> plRows)
  }

  /** Temporal joins at sf1-scale event counts: the as-of join is ONE key
    * shuffle and NO join operator, vs the max-subquery spelling (range
    * join + aggregates + joins back); the interval join is a plain
    * bucket equi-join. Per-user event times cluster in a ~4k-wide span
    * near user_id*10000, so intervals are narrow — a synthetic where
    * every interval spans the domain would make the true result itself
    * quadratic. */
  private def temporal(spark: SparkSession, nEv: Long): Measure.Js = {
    val evDf = spark.range(nEv).select(
      col("id").as("event_id"),
      (col("id") % 100000L).as("user_id"),
      expr("(id % 100000) * 10000 + (id div 100000) * 197").as("us"),
      (col("id") % 7L).cast("double").as("value"))
      .localCheckpoint(true)
    val tProbes = evDf.filter(col("event_id") % 3L =!= 0L)
      .select("event_id", "user_id", "us")
    val tBuilds = evDf.filter(col("event_id") % 3L === 0L)
      .select("user_id", "us", "event_id", "value")
    val asofDf = Temporal.asofJoin(
      tProbes, tBuilds, "user_id", "us", "event_id", Seq("value"))
    val mx = tProbes
      .join(tBuilds.select(col("user_id"), col("us").as("bus")), "user_id")
      .filter(col("bus") <= col("us"))
      .groupBy("event_id").agg(max("bus").as("v_us"))
    val subq = tProbes.join(mx, Seq("event_id"), "left")
      .join(tBuilds.select(col("user_id"), col("us").as("v_us"),
        col("value").as("asof_value")), Seq("user_id", "v_us"), "left")
    val tIvs = tBuilds.groupBy(col("user_id").as("owner"))
      .agg(min("us").as("start_us"), max("us").as("end_us"))
    val ivDf = Temporal.intervalJoin(
      tProbes.select(col("user_id").as("p_user"), col("us")), "us",
      tIvs, "start_us", "end_us", widthUs = 5000L)
    obj("events" -> nEv,
      "asof_window" -> shuffleAudit(asofDf,
        "join_free" -> !planText(asofDf).contains("Join")),
      "asof_subquery" -> shuffleAudit(subq),
      "interval_join" -> shuffleAudit(ivDf, "equi_join" ->
        Seq("BroadcastNestedLoopJoin", "CartesianProduct")
          .forall(!planText(ivDf).contains(_))))
  }

  /** IVF-PQ daily fold: appending a FIXED 200-row batch onto indexes of
    * 20k and 100k vectors costs the same encode/shuffle work; the
    * index-size term is one single-column (cid) scan for the drift
    * audit, which shows in input bytes, never in shuffle. */
  private def ivfPqAppend(spark: SparkSession, root: String): Measure.Js = {
    sys.props("graft.models.dir") = s"$root/models"
    def syn(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("vec_id"),
      expr("transform(sequence(0, 63), " +
        "k -> cast(((id * 31 + k) % 97) / 10.0 as float))").as("embedding"))
    def appendCost(n: Long): Measure.Js = {
      val dir = s"$root/syn$n"
      syn(0, n).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      Models.ivfPqIndex(spark, dir, nList = 16, iters = 1, m = 8, ksub = 16)
      val (_, r) = Measure.recorded(spark) {
        Models.ivfPqIndexAppend(spark, dir, syn(n, n + 200), "vec_id",
          "embedding", nList = 16, iters = 1, m = 8, ksub = 16)
      }
      obj("shuffle_bytes" -> r.shuffleWriteBytes.get,
        "input_bytes" -> r.inputBytes.get)
    }
    obj("batch" -> 200, "idx20k" -> appendCost(20000L),
      "idx100k" -> appendCost(100000L))
  }

  private def pct(a: Long, b: Long): Double =
    math.round(a.toDouble / b * 10000) / 100.0

  /** Unpartitioned-window bound audit, REGISTRY-DERIVED (a hand list
    * once missed the LM family's corpus-sized decile window): every
    * registered query's executed plans — including those it runs while
    * being built — are walked, each global window's input rows recorded,
    * and the audit fails when any exceeds its bound. The ledger lists
    * only queries that have global windows; `queries_audited` proves the
    * walk covered the registry. */
  private def windowAudit(spark: SparkSession, sfDir: String): Measure.Js = {
    // AQE hides finished stages behind QueryStageExec LEAVES; flatten
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
      case q: QueryStageExec => p +: allNodes(q.plan)
      case _ => p +: p.children.flatMap(allNodes)
    }
    // "Input" = rows entering the window's single-partition stage: the
    // feeding exchange's record count, or the nearest measured
    // descendant. Either way it must never scale with the corpus.
    def rowsOf(n: SparkPlan): Long =
      n.metrics.get("numOutputRows").map(_.value)
        .orElse(n.metrics.get("shuffleRecordsWritten").map(_.value))
        .getOrElse(n.children.headOption.map(rowsOf).getOrElse(-1L))
    // global = empty or all-foldable partitionSpec, or
    // Rank.boundedGlobal's declared-bounded constant key (the analyzer
    // extracts it into a `_wN` attribute the helper traces back)
    def globalWindowRows(qe: QueryExecution): Seq[Long] = {
      val nodes = allNodes(qe.executedPlan)
      val ids = BoundedGlobalKey.aliasedIds(nodes)
      nodes.collect {
        case w: WindowExec if w.partitionSpec.isEmpty ||
            BoundedGlobalKey.declaresBounded(w.partitionSpec, ids) =>
          rowsOf(w.child)
      }
    }
    val shufParts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    // default: well under every corpus table's sf0.1 row count; the
    // overrides are the documented bounded-but-larger shapes — vocab
    // rank ships at most K rows per partition into its single stage,
    // and the Rank.ntileExact histograms are bounded by the discrete
    // value domain (4dp-quantized nll_bits)
    val DefaultWindowBound = 2048L
    val overrides = Map(
      "tx_subword_vocab" -> TextOps.SubwordVocabK.toLong * shufParts,
      "tx_lm_score" -> 8192L, "tx_lm_score_indexed" -> 8192L,
      "ds_daily_pipeline" -> 8192L)
    val audited = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val (df, seen) = Measure.executions(spark) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.queryExecution.toRdd.foreach(_ => ())
        df
      }
      val rows = (df.queryExecution +: seen).flatMap(globalWindowRows)
      val worst = if (rows.isEmpty) 0L else rows.max
      val bound = overrides.getOrElse(name, DefaultWindowBound)
      require(worst <= bound,
        s"$name: unpartitioned window saw $worst rows > bound $bound")
      (name, rows.size, worst, bound)
    }
    obj(("queries_audited" -> audited.size) +:
      audited.filter(_._2 > 0).map { case (n, c, w, b) =>
        n -> obj("windows" -> c, "max_input_rows" -> w, "bound" -> b)
      }: _*)
  }

  /** The maintenance loop at sf1 scale: a 50k-doc corpus takes five
    * daily postings folds (file fan-in growth), one compaction, and one
    * vacuum over planted debris, with the events ledger enabled. The
    * claims: fold fragmentation is bounded-linear in folds, compaction
    * restores one file per bucket in one pass, the vacuum walk is
    * metadata-only, and the ledger costs one small row per operation. */
  private def maintenance(spark: SparkSession, mDir: String): Measure.Js = {
    val mDocs = 50000L
    spark.range(mDocs).select(col("id").as("doc_id"),
      expr("array_join(transform(sequence(0, cast(id % 37 as int) + 3)," +
        " k -> concat('w', cast((id * 13 + k * 7) % 4096 as string)))," +
        " ' ')").as("text"))
      .write.mode("overwrite").parquet(s"$mDir/documents.parquet")
    val mAll = spark.read.parquet(s"$mDir/documents.parquet")
    Models.buildRetrievalArtifacts(spark, mDir,
      docs = Some(mAll.filter(col("doc_id") < mDocs / 2)))
    val mRoot = Models.root(mDir)
    MaintenanceLog.enable(spark, mRoot)
    val postPath = Models.postingsPath(mDir)
    def files() = Generations.countParquetFiles(spark,
      Models.servingDir(spark, postPath))
    val filesBase = files()
    val foldN = 5
    (0 until foldN).foreach { k =>
      val lo = mDocs / 2 + k * (mDocs / 10)
      Models.postingsAppend(spark, mDir,
        mAll.filter(col("doc_id") >= lo && col("doc_id") < lo + mDocs / 10),
        "doc_id", "text", dedupeIds = true)
    }
    val filesAfterFolds = files()
    var compacted = (0L, 0L)
    val compactSec = Measure.seconds {
      compacted = Models.compactBucketed(spark, postPath)
    }
    // planted debris: an orphan generation, a dead tokenize staging
    // dir, a crashed _tmp_ marker — the three classes vacuum reclaims
    import org.apache.hadoop.fs.Path
    val fs = new Path(postPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(postPath, "gen-99"))
    fs.create(new Path(postPath, "gen-99/part-torn.parquet"), true).close()
    fs.mkdirs(new Path(mRoot, "tok_staging"))
    fs.create(new Path(postPath, "_tmp_dead"), true).close()
    var swept = 0
    val vacuumSec = Measure.seconds {
      swept = Models.vacuum(spark, mDir, minAgeMs = 0L).size
    }
    // ledger footprint: staged segments + commit log of the events family
    val ledgerN = MaintenanceLog.events(spark, mRoot).count()
    val ledger = fs.getContentSummary(
      new Path(s"$mRoot/${MaintenanceLog.Family}"))
    val (ledgerFiles, ledgerBytes) = (ledger.getFileCount, ledger.getLength)
    obj("corpus_rows" -> mDocs, "folds" -> foldN,
      "postings_files_base" -> filesBase,
      "postings_files_after_folds" -> filesAfterFolds,
      "compact" -> obj("files_before" -> compacted._1,
        "files_after" -> compacted._2, "sec" -> Measure.r3(compactSec)),
      "vacuum" -> obj("swept" -> swept, "sec" -> Measure.r3(vacuumSec)),
      "ledger" -> obj("events" -> ledgerN, "files" -> ledgerFiles,
        "bytes" -> ledgerBytes,
        "bytes_per_event" -> (if (ledgerN > 0) ledgerBytes / ledgerN else 0L)))
  }
}
