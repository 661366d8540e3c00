package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextOps}

/** Persisted trained artifacts — the "train once, apply forever" store.
  *
  * Two of the engine's operators depend on state derived from a corpus
  * pass: the deterministic subword vocabulary (the tokenizer's model)
  * and the historical MinHash-LSH band index + shingle sets (the
  * incremental-dedup index). Re-deriving either inside every query is
  * correct but wasteful — a daily pipeline trains them once and every
  * subsequent run LOADS them, exactly like the reference's metastore is
  * a persisted index consulted per request rather than rebuilt
  * (pithos: src/io/pithos/meta.clj:29-85).
  *
  * This object is that store: `ensure*` entry points train-and-persist
  * on first use (per corpus, per parameterization — both are encoded in
  * the on-disk path) and read the persisted table afterwards, including
  * across JVM restarts. All artifacts are deterministic functions of
  * the corpus, so a reload is bit-identical to a retrain and every
  * oracle that re-derives the artifact in SQL still hash-matches.
  *
  * Scale notes:
  *  - the vocab is a K-row table — the bounded driver-side state a
  *    tokenizer ships to every task as a plan literal.
  *  - the LSH index is corpus-sized; it is written BUCKETED by the band
  *    bucket key (bands) / doc id (shingle sets) via
  *    [[Lake.writeBucketedTable]], so the daily probe joins read it
  *    with ZERO exchange on the index side — the shuffle is paid once
  *    at train time, never per run. Bucketing metadata lives in the
  *    session catalog; after a restart the table is re-registered over
  *    the existing files with a `CREATE TABLE ... CLUSTERED BY ...
  *    LOCATION` DDL (no rewrite).
  */
object Models {

  /** Bucket count for the LSH index tables — part of the on-disk
    * contract (see [[Lake.DefaultParts]]); at 100 TB this is sized to
    * the cluster, here to local[32]'s task granularity. */
  val IndexBuckets = 16

  /** Training-algorithm version, part of every artifact path. Bump it
    * whenever a derivation changes (vocab ranking, hash family, Lloyd
    * update rule, …): a persisted artifact from an older algorithm
    * must become invisible — the oracles re-derive from scratch, so a
    * stale model would fail the hash gate, silently-correct-looking. */
  val ModelVersion = 1

  private val vocabCache = TrieMap.empty[String, Seq[String]]

  /** Test seam for the crash-injection property suite: invoked at
    * named points inside the maintenance writes ([[postingsAppend]]'s
    * inter-artifact windows); a hook that throws simulates a writer
    * dying at exactly that point, which is how MaintSchedulePropertySpec
    * drives random crash/replay schedules through the REAL write
    * paths. Production never sets it (a no-op function reference on
    * the maintenance path, not the per-row path). */
  @volatile private[graft] var crashHook: String => Unit = _ => ()
  @inline private def crashPoint(name: String): Unit = crashHook(name)

  /** Base directory for ALL persisted artifacts. Overridable for
    * tests via GRAFT_MODELS_DIR / -Dgraft.models.dir; defaults under
    * the warehouse dir. */
  def modelsBase: String =
    sys.env.getOrElse("GRAFT_MODELS_DIR",
      sys.props.getOrElse("graft.models.dir",
        s"${sys.props("user.dir")}/spark-warehouse/models"))

  /** Artifact root for one corpus. */
  def root(sfDir: String): String =
    s"$modelsBase/v$ModelVersion/${corpusId(sfDir)}"

  /** Corpus key: the sf dir, sanitized to a path/identifier fragment. */
  def corpusId(sfDir: String): String =
    sfDir.replaceAll("^/+", "").replaceAll("[^A-Za-z0-9]+", "_")
      .toLowerCase

  /** An artifact family exists when a committed generation with a
    * complete write (`_SUCCESS`) is resolvable — see [[Generations]]:
    * every family is a directory of generations and the head is the
    * highest atomic commit marker. */
  private def exists(spark: SparkSession, path: String): Boolean =
    Generations.exists(spark, path)

  /** The directory actually served for artifact family `path` — its
    * committed head generation. Public for tests and maintenance
    * tooling that inspect file layout; queries go through the
    * accessors. */
  def servingDir(spark: SparkSession, path: String): String =
    Generations.resolve(spark, path).getOrElse(
      throw new NoSuchElementException(
        s"no committed generation for artifact $path"))

  // ---- artifact families -------------------------------------------------

  /** One persisted artifact family. `dirPattern` matches the directory
    * names of its instances under a corpus root (the training
    * parameterization is encoded in the name). `bucketCol` is the
    * bucket column of a family stored as a bucketed table, so probe
    * joins read it with zero index-side exchange; `None` is plain
    * parquet. `appended` marks the families daily folds append to. */
  private final case class Family(name: String, dirPattern: String,
      bucketCol: Option[String], appended: Boolean) {
    /** Appended families fragment with every fold, and a bucketed
      * train's multi-task write emits one file per (task, bucket):
      * these are the families compaction rewrites. Plain families that
      * rewrite whole or never change stay single-file. */
    def compacts: Boolean = appended || bucketCol.nonEmpty
  }

  /** Every family this object persists, in [[compactModelArtifacts]]'
    * walk order (its compact events land in the maintenance log in
    * this order). The dedup map's remap ledger is plain and rewritten
    * whole per fold; [[compactDedupMap]] folds it into the map. */
  private val Families: Seq[Family] = Seq(
    Family("postings", "postings", Some("tok"), appended = true),
    Family("postings_pos", "postings_pos", Some("tok"), appended = true),
    Family("doc_lens", "doc_lens", None, appended = true),
    Family("df_table", "df_table", None, appended = false),
    Family("lsh_sets", "lsh_sets_w\\d+", Some("id"), appended = true),
    Family("lsh_bands", "lsh_bands_k\\d+_b\\d+_w\\d+", Some("bk"),
      appended = true),
    Family("ivf_centroids", "ivf_centroids_n\\d+_i\\d+", None,
      appended = false),
    Family("ivfpq_cb", "ivfpq_cb_n\\d+_i\\d+_m\\d+_k\\d+", None,
      appended = false),
    Family("ivfpq_codes", "ivfpq_codes_n\\d+_i\\d+_m\\d+_k\\d+",
      Some("cid"), appended = true),
    Family("dedup_map", "dedup_map_j\\d+", Some("id"), appended = true),
    Family("dedup_remap", "dedup_map_j\\d+_remap", None, appended = false),
    Family("subword_vocab", "subword_vocab_k\\d+_g\\d+_\\d+", None,
      appended = false),
    Family("bigram_lm", "bigram_lm", None, appended = false),
    Family("bpe_merges", "bpe_merges_r\\d+", None, appended = false),
    Family("bpe_segs", "bpe_segs_r\\d+", Some("word"), appended = false))

  private def familyOf(path: String): Option[Family] = {
    val dir = new org.apache.hadoop.fs.Path(path).getName
    Families.find(f => dir.matches(f.dirPattern))
  }

  private def family(path: String): Family = familyOf(path).getOrElse(
    throw new IllegalArgumentException(s"not an artifact family: $path"))

  private[graft] def tableName(path: String): String =
    "graft_model_" + path.replaceAll("[^A-Za-z0-9]+", "_").takeRight(80)
      .dropWhile(_ == '_')

  /** Where catalog table `name` points (URI path), if registered. */
  private def tableLocation(spark: SparkSession,
      name: String): Option[String] =
    if (!spark.catalog.tableExists(name)) None
    else Some(new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(name)).location)
      .toUri.getPath)

  /** Run `body` with every Spark job it launches described as
    * `models:<family>:<phase>` (train, fold, compact, rebuild, vacuum)
    * — the maintenance layer's jobs are attributable in listeners and
    * the UI — nested under the caller's description
    * ([[graft.Materialize.described]]), which is restored afterwards. */
  private def step[A](spark: SparkSession, family: String, phase: String)
      (body: => A): A =
    graft.Materialize.described(spark, s"models:$family:$phase")(body)

  /** Record one maintenance event on `root` — every event carries its
    * duration since `t0`. `nRows` and `detail` are by-name, so no count
    * runs unless the root's log is (durably) enabled. */
  private def logEvent(spark: SparkSession, root: String, kind: String,
      family: String, t0: Long, nRows: => Long, filesBefore: Long = -1L,
      filesAfter: Long = -1L, detail: => String = ""): Unit =
    if (MaintenanceLog.enabled(spark, root)) {
      val ms = System.currentTimeMillis() - t0
      MaintenanceLog.emit(spark, root, kind, family, nRows,
        filesBefore = filesBefore, filesAfter = filesAfter,
        durationMs = ms, detail = detail)
    }

  /** Train once, then [[serve]]: when `path` has no committed generation,
    * `rows` lands as its generation 1 with an atomic commit marker
    * carrying `marker` — the layout every rewrite (compaction, df
    * refresh, rebuild) then advances, so a crash mid-write can never
    * destroy a served artifact. */
  private def ensure(spark: SparkSession, path: String,
      marker: => String = "")(rows: => DataFrame): DataFrame = synchronized {
    if (!exists(spark, path)) {
      val fam = family(path)
      step(spark, fam.name, "train") {
        fam.bucketCol match {
          case None => rewrite(spark, path, rows, marker)
          case Some(bc) =>
            val (n, g) = Generations.prepare(spark, path)
            Generations.withLeaseHeartbeat(spark, Seq(path)) {
              Lake.writeBucketedTable(rows, tableName(path), g, bc,
                IndexBuckets)
              Generations.commit(spark, path, n, marker)
            }
        }
      }
    }
    serve(spark, path)
  }

  /** Serve `path`'s HEAD generation. A plain family reads its files. A
    * bucketed family reads its catalog table, re-registered whenever
    * the table is not at the head: after a catalog loss (restart), and
    * after a cutover advanced the head from another code path or
    * session — reads and bucket-preserving appends must never target a
    * retired generation. The schema comes from the head's files (the
    * bucket metadata lives in the catalog, not the files). Refreshing
    * drops this session's cached file listing (appends may land from a
    * foreachBatch clone whose invalidation covers only its own
    * relation cache). */
  private def serve(spark: SparkSession, path: String): DataFrame =
    synchronized {
      val g = servingDir(spark, path)
      family(path).bucketCol match {
        case None => spark.read.parquet(g)
        case Some(bc) =>
          val name = tableName(path)
          val want = new org.apache.hadoop.fs.Path(g).toUri.getPath
          if (!tableLocation(spark, name).contains(want)) {
            val schemaDdl = spark.read.parquet(g).schema.toDDL
            spark.sql(s"DROP TABLE IF EXISTS $name")
            spark.sql(
              s"""CREATE TABLE $name ($schemaDdl)
                 |USING PARQUET
                 |CLUSTERED BY ($bc) SORTED BY ($bc)
                 |INTO $IndexBuckets BUCKETS
                 |LOCATION '$g'""".stripMargin)
          }
          spark.catalog.refreshTable(name)
          spark.table(name)
      }
    }

  /** Write `rows` as one generation directory `dir` of `path`'s
    * family: plain as one file; bucketed pre-partitioned on the bucket
    * column (HashPartitioning uses the same Murmur3 pmod as the bucket
    * id), so each of the IndexBuckets tasks writes exactly its own
    * bucket's one file, through a catalog-only staging table. */
  private def writeGen(spark: SparkSession, path: String, rows: DataFrame,
      dir: String): Unit =
    family(path).bucketCol match {
      case None => rows.coalesce(1).write.parquet(dir)
      case Some(bc) =>
        val stage = tableName(path) + "_staging"
        Lake.writeBucketedTable(rows.repartition(IndexBuckets, col(bc)),
          stage, dir, bc, IndexBuckets)
        spark.sql(s"DROP TABLE IF EXISTS $stage") // catalog only
        ()
    }

  /** Rewrite `path` whole: `rows` lands as the next generation and one
    * atomic commit marker carrying `content` flips the head to it
    * ([[Generations.cutover]]) — the old head serves until the marker
    * exists and its files survive the flip (keep-2), so `rows` may read
    * them. Returns the new generation directory. */
  private def rewrite(spark: SparkSession, path: String, rows: => DataFrame,
      content: String = ""): String =
    Generations.cutover(spark, path, content)(writeGen(spark, path, rows, _))

  /** Append fold rows to `path`'s served head generation — the caller
    * has served it. Bucketed appends preserve the bucket spec (Spark
    * validates it against the catalog table), so the zero-exchange
    * probe property survives every fold, and are PRE-PARTITIONED on the
    * bucket column: one file per bucket per fold instead of one per
    * (shuffle partition, bucket) — ScaleAudit measured 512 vs 16 files
    * per fold, i.e. 32× slower file-count growth, the difference
    * between compacting monthly and weekly. The extra exchange is
    * batch-sized, never index-sized. The plain appended family
    * (document lengths, two columns, batch-sized) gets one file per
    * fold. */
  private def append(spark: SparkSession, path: String,
      rows: DataFrame): Unit = {
    val fam = family(path)
    require(fam.appended, s"${fam.name} is not a fold-appended family")
    fam.bucketCol match {
      case Some(bc) =>
        rows.repartition(IndexBuckets, col(bc))
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .bucketBy(IndexBuckets, bc).sortBy(bc)
          .format("parquet").saveAsTable(tableName(path))
      case None =>
        rows.repartition(1)
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(servingDir(spark, path))
    }
  }

  /** The fold's replay guard: the `batch` rows whose `idCol` is not yet
    * in `artifact`'s `artCol`, which makes a fold IDEMPOTENT for
    * at-least-once callers — a replayed batch appends nothing. The
    * artifact's id column streams MAP-SIDE against a broadcast of the
    * batch ids and the hit set (at most batch-sized) broadcasts back as
    * an anti join: the artifact is never read in full or shuffled. */
  private def fresh(batch: DataFrame, idCol: String, artifact: DataFrame,
      artCol: String): DataFrame = {
    val present = artifact.select(col(artCol).as(idCol))
      .join(broadcast(batch.select(idCol)), Seq(idCol), "left_semi")
      .localCheckpoint(true)
    batch.join(broadcast(present), Seq(idCol), "left_anti")
  }

  /** [[fresh]] over several `doc_id`-keyed artifacts in ONE probe — the
    * postings tier's replay guard: the union of every artifact's
    * `(doc_id, tag)` streams against a broadcast of the batch ids, and
    * the distinct hits are checkpointed once; each tag's fresh slice is
    * an anti join against its share of them. `range`, the batch's
    * (min, max) id, lets parquet row-group stats prune files that
    * cannot hold batch ids, and `distinct` collapses the many rows
    * per document these artifacts hold (daily folds carry recent,
    * clustered ids: the probe reads the fold-recent tail, not a year
    * of index). */
  private def freshByArtifact(batch: DataFrame, range: (Any, Any),
      artifacts: Seq[(String, DataFrame)]): Map[String, DataFrame] = {
    val present = artifacts
      .map { case (tag, t) => t.select(col("doc_id"), lit(tag).as("tag")) }
      .reduce(_.unionAll(_))
      .filter(col("doc_id").between(lit(range._1), lit(range._2)))
      .join(broadcast(batch.select("doc_id")), Seq("doc_id"), "left_semi")
      .distinct().localCheckpoint(true)
    artifacts.map { case (tag, _) =>
      tag -> batch.join(broadcast(present.filter(col("tag") === tag)
        .select("doc_id")), Seq("doc_id"), "left_anti")
    }.toMap
  }

  // ---- subword vocabulary ------------------------------------------------

  /** Path encodes the training parameterization: a changed K or gram
    * range is a different model, never a silent overwrite. */
  def vocabPath(sfDir: String, k: Int): String =
    s"${root(sfDir)}/subword_vocab_k${k}_g${TextOps.SubwordMinGram}" +
      s"_${TextOps.SubwordMaxGram}"

  /** The persisted subword vocabulary for this corpus: train + persist
    * on first use, read-only afterwards. Returns `(gram, cnt)` rows. */
  def subwordVocabTable(spark: SparkSession, sfDir: String,
      k: Int = TextOps.SubwordVocabK): DataFrame =
    ensure(spark, vocabPath(sfDir, k))(
      TextOps.subwordVocab(graft.Tables.documents(spark, sfDir), k))

  /** The vocabulary as the driver-side Seq embedded into
    * [[graft.functions.SubwordTokens]] as a plan literal. Loading
    * (not training) is the steady state; the K-row collect is cached
    * per corpus for the session. Rank order (cnt desc, gram asc) is
    * re-imposed on read so the artifact's file layout is irrelevant. */
  def subwordVocabSeq(spark: SparkSession, sfDir: String,
      k: Int = TextOps.SubwordVocabK): Seq[String] =
    vocabCache.getOrElseUpdate(s"${vocabPath(sfDir, k)}",
      subwordVocabTable(spark, sfDir, k)
        .orderBy(col("cnt").desc, col("gram"))
        .collect().map(_.getString(0)).toSeq)

  // ---- IVF coarse quantizer ----------------------------------------------

  /** Spread a small-file corpus across the session's parallelism
    * before the expression-heavy train stages (Lloyd argmin, PQ
    * encode): a corpus slice staged as one parquet file otherwise
    * evaluates the whole train on ONE task — measured 6–8 s for a
    * 2k-row slice where the spread train takes under a second. No-op
    * (and no shuffle) when the scan already has enough splits, so a
    * 100 TB corpus never pays a redistribution it doesn't need. */
  private def spread(df: DataFrame): DataFrame = {
    val want = math.min(
      df.sparkSession.sparkContext.defaultParallelism, IndexBuckets)
    if (df.rdd.getNumPartitions >= want) df else df.repartition(want)
  }

  /** Path encodes (nList, Lloyd iterations) — the quantizer's training
    * parameterization. */
  def ivfCentroidsPath(sfDir: String, nList: Int, iters: Int): String =
    s"${root(sfDir)}/ivf_centroids_n${nList}_i$iters"

  /** The persisted IVF coarse quantizer for this corpus's embeddings:
    * `(cid, cv, cn2)` — trained (seed sample + exact-int Lloyd steps,
    * [[graft.operators.Similarity.refinedCentroids]]) and persisted on
    * first use, an nList-row read thereafter. Deterministic, so a
    * reload is bit-identical to a retrain and the SQL oracles that
    * re-derive the quantizer still hash-match. */
  def ivfCentroids(spark: SparkSession, sfDir: String,
      nList: Int = 16, iters: Int = 2): DataFrame =
    ensure(spark, ivfCentroidsPath(sfDir, nList, iters)) {
      // checkpointed: each Lloyd step re-reads the prep — without the
      // materialization the scan+quantize replays once per iteration
      // (train-once path: the corpus-sized executor-storage footprint
      // is the same trade ivfPqIndex makes for its residuals)
      val prep = spread(graft.operators.Similarity.prepared(
        graft.Tables.embeddings(spark, sfDir), "vec_id", "embedding"))
        .localCheckpoint(true)
      graft.operators.Similarity.refinedCentroids(prep, nList, iters)
    }

  // ---- historical MinHash-LSH index --------------------------------------

  def lshBandsPath(sfDir: String, k: Int, b: Int, w: Int): String =
    s"${root(sfDir)}/lsh_bands_k${k}_b${b}_w$w"
  def lshSetsPath(sfDir: String, w: Int): String =
    s"${root(sfDir)}/lsh_sets_w$w"

  /** The historical LSH index of `indexDocs`: `(bands, sets)` — bands
    * `(bk, id)` bucketed by the band bucket key, shingle sets
    * `(id, hs, n)` bucketed by doc id. Trained + persisted on first
    * use; afterwards both sides of the daily probe join read
    * pre-bucketed files with zero index-side exchange. */
  def lshIndex(spark: SparkSession, sfDir: String,
      indexDocs: => DataFrame, idCol: String, textCol: String,
      k: Int = 32, b: Int = 16, w: Int = 3): (DataFrame, DataFrame) = {
    val setsDf = ensure(spark, lshSetsPath(sfDir, w))(
      Dedup.shingleSets(indexDocs, idCol, textCol, w))
    val bandsDf = ensure(spark, lshBandsPath(sfDir, k, b, w)) {
      Dedup.bandTable(Dedup.minhashSignatureSets(setsDf, k), b, k / b)
        .select(col("bk"), col("id"))
    }
    (bandsDf, setsDf)
  }

  /** Fold a processed batch INTO the persisted LSH index — the second
    * half of the daily loop: probe the batch against the index
    * ([[graft.operators.Dedup.incrementalDedupIndexed]]), then append
    * the batch's bands + shingle sets so tomorrow's probe sees today's
    * documents. Appends preserve the bucket spec, so the zero-exchange
    * probe property survives every fold. Requires the index to exist
    * (train first via [[lshIndex]]).
    *
    * `dedupeIds = true` makes the fold IDEMPOTENT for at-least-once
    * callers (the streaming dedup-maintenance loop), exactly like
    * [[postingsAppend]]/[[ivfPqIndexAppend]]: ids already in the
    * shingle-set table drop from the batch before any write — a
    * replayed batch appends nothing, where a blind re-append would
    * duplicate band rows (duplicate candidate pairs) AND set rows
    * (corrupted Jaccard denominators).
    *
    * `precomputedSets`, when supplied, are
    * [[graft.operators.Dedup.shingleSets]] of the WHOLE batch — the
    * map fold shingles once and feeds probe, inner pairs, and this
    * fold; rows the dedupe layer drops are filtered out here. */
  def lshIndexAppend(spark: SparkSession, sfDir: String, batch: DataFrame,
      idCol: String, textCol: String,
      k: Int = 32, b: Int = 16, w: Int = 3,
      dedupeIds: Boolean = false,
      precomputedSets: Option[DataFrame] = None): Unit = synchronized {
    step(spark, "lsh_index", "fold") {
      val t0 = System.currentTimeMillis()
      val setsPath = lshSetsPath(sfDir, w)
      val bandsPath = lshBandsPath(sfDir, k, b, w)
      require(exists(spark, setsPath) && exists(spark, bandsPath),
        "lshIndexAppend requires a trained index (call lshIndex first)")
      // serve (re-register + refresh) both tables at their HEAD
      // generation: a compaction cutover may have advanced the head from
      // ANOTHER code path or session, and a bucket-preserving append
      // must land in the generation readers resolve, never a retired one
      val setsDf = serve(spark, setsPath)
      serve(spark, bandsPath)
      val todo =
        if (!dedupeIds) batch
        else fresh(batch, idCol, setsDf, "id")
          .localCheckpoint(true) // the emptiness check + both writes
      if (!dedupeIds || !todo.isEmpty) { // a pure replay folds to a no-op
        // bands derive from sets: shingle ONCE
        val sets = batchSets(precomputedSets, todo, idCol, textCol, w)
        // write order is the crash contract: BANDS first, SETS last — the
        // dedupe layer above probes the sets table, so a torn fold (crash
        // between the two appends) leaves the batch ABSENT from sets and
        // the replay re-runs BOTH writes, completing the fold. The
        // re-appended band rows are duplicates, which every probe
        // tolerates (candidate pairs pass through distinct()); duplicate
        // SET rows would corrupt Jaccard denominators, which this ordering
        // makes impossible. (Sets-first would invert it: the replay would
        // see the ids present, no-op, and the bands would stay missing
        // forever — silently dropping the batch from all future probes.)
        append(spark, bandsPath,
          Dedup.bandTable(Dedup.minhashSignatureSets(sets, k), b, k / b)
            .select(col("bk"), col("id")))
        crashPoint("lsh_after_bands")
        append(spark, setsPath, sets)
        logEvent(spark, root(sfDir), "fold", "lsh_index", t0, sets.count())
      }
    }
  }

  // ---- IVF-PQ index (coarse cells + residual codebook + codes) -----------

  def ivfPqCodebookPath(sfDir: String, nList: Int, iters: Int, m: Int,
      ksub: Int): String =
    s"${root(sfDir)}/ivfpq_cb_n${nList}_i${iters}_m${m}_k$ksub"
  def ivfPqCodesPath(sfDir: String, nList: Int, iters: Int, m: Int,
      ksub: Int): String =
    s"${root(sfDir)}/ivfpq_codes_n${nList}_i${iters}_m${m}_k$ksub"

  /** The persisted IVF-PQ index — the production ANN artifact: the
    * coarse quantizer (the SHARED [[ivfCentroids]] artifact), the
    * residual codebook (`ksub` rows), and the corpus codes table
    * `(nid, cid, codes)` written BUCKETED by `cid`, so a probe reads
    * the index side with zero exchange and — partitioned by cell —
    * only the probed cells' buckets. Trained once
    * ([[graft.operators.Similarity.ivfPqCodes]]); a reload is
    * bit-identical to a retrain, which the retraining oracle of
    * `sim_ivfpq_indexed` proves per run. Returns
    * `(centroids, codebookRows, codes)`.
    *
    * The default `ksub = 256` (8-bit codes) is the operating point the
    * `sim_ivfpq_sweep` study selected: with nProbe=8 + exact rerank=50
    * it audits at 0.92 recall@5 (`sim_ivfpq_recall`), where the
    * original 4-bit/nProbe=4 pure-ADC point measured 0.26 — a point a
    * serving pipeline would actually flip traffic to. */
  def ivfPqIndex(spark: SparkSession, sfDir: String, nList: Int = 16,
      iters: Int = 2, m: Int = 8, ksub: Int = 256, dim: Int = 64)
      : (DataFrame, DataFrame, DataFrame) = {
    val centPath = ivfCentroidsPath(sfDir, nList, iters)
    val cbPath = ivfPqCodebookPath(sfDir, nList, iters, m, ksub)
    val codesPath = ivfPqCodesPath(sfDir, nList, iters, m, ksub)
    pairing(spark, codesPath) match {
      case Some((cg, bg)) =>
        // serving path: the codes head NAMES the quantizer/codebook
        // generations it was encoded against — read those, not the
        // families' own heads (a rebuild may have advanced them before
        // its codes commit landed; the pairing keeps the triple
        // consistent through every crash window)
        val cents = spark.read.parquet(Generations.genDir(centPath, cg))
        val cbRows = spark.read.parquet(Generations.genDir(cbPath, bg))
        (cents, cbRows, serve(spark, codesPath))
      case None =>
        // train path: quantizer + codebook first, then codes committed
        // with the pairing that freezes this triple
        val cents = ivfCentroids(spark, sfDir, nList, iters)
        lazy val prep = spread(graft.operators.Similarity.prepared(
          graft.Tables.embeddings(spark, sfDir), "vec_id", "embedding")
          .filter(size(col("qv")) === dim))
        lazy val res = graft.operators.Similarity
          .ivfPqResiduals(prep, cents)
          .localCheckpoint(true)
        val cbRows = ensure(spark, cbPath)(res.filter(col("id") < ksub)
          .select(col("id").as("cid"), col("rv").as("cv")))
        val codes = ensure(spark, codesPath, marker = pairingContent(
            Generations.head(spark, centPath).map(_._1).getOrElse(1L),
            Generations.head(spark, cbPath).map(_._1).getOrElse(1L))) {
          graft.operators.Similarity.ivfPqCodes(res, cbRows, m, ksub, dim)
        }
        (cents, cbRows, codes)
    }
  }

  /** The codes family's commit-marker content: the EXACT quantizer and
    * codebook generations these codes were encoded against. Old codes
    * are not comparable under a new quantizer's ADC LUTs, so the
    * pairing must cut over with the codes in ONE atomic step — which
    * this content provides: the single codes-marker create publishes
    * the whole triple, and a crash anywhere in [[ivfPqRebuild]] leaves
    * the head naming one complete, internally consistent triple (old
    * or new, never mixed). */
  private def pairingContent(centGen: Long, cbGen: Long): String =
    s"cent=$centGen\ncb=$cbGen"

  /** The (quantizer, codebook) generations the codes head pairs. */
  private def pairing(spark: SparkSession,
      codesPath: String): Option[(Long, Long)] =
    Generations.head(spark, codesPath).flatMap { case (_, content) =>
      val kv = content.split('\n').iterator.map(_.trim).filter(_.nonEmpty)
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v.toLong }
        .toMap
      for (c <- kv.get("cent"); b <- kv.get("cb")) yield (c, b)
    }

  /** Fold a new batch INTO the persisted IVF-PQ index — the ANN side
    * of the daily loop [[lshIndexAppend]] closes for text dedup: the
    * batch is encoded against the FROZEN quantizer and residual
    * codebook (training never reruns — the artifacts that define code
    * semantics are immutable between rebuilds, so old and new codes
    * stay comparable under one set of ADC LUTs) and appended to the
    * cid-bucketed codes table preserving its bucket spec, so the
    * zero-exchange probe property survives every fold.
    *
    * Returns the post-append per-cell drift audit
    * ([[graft.operators.Similarity.ivfPqAppendStats]]). A frozen
    * quantizer silently degrades when the incoming distribution
    * shifts — batches piling into few cells make hot probe partitions
    * and recall loss — so the fold fails fast when any cell's
    * post-append share of the index exceeds `maxCellShareMilli`/1000
    * (default 1000 = never: the caller opts into the threshold that
    * fits its nList). A tripped guard means "rebuild the index", not
    * "drop the batch": the appended rows are already durable, as in
    * any append-then-audit pipeline.
    *
    * `dedupeIds = true` makes the fold IDEMPOTENT for at-least-once
    * callers (the streaming maintenance loop): ids already present in
    * the index are dropped from the batch before the append, so a
    * replayed batch appends nothing ([[fresh]]: the drift audit's cost
    * class, a single-column index scan — not the index-shuffling nid
    * anti-join ScaleAudit vetoed in round 10). */
  def ivfPqIndexAppend(spark: SparkSession, sfDir: String,
      batch: DataFrame, idCol: String, vecCol: String, nList: Int = 16,
      iters: Int = 2, m: Int = 8, ksub: Int = 256, dim: Int = 64,
      maxCellShareMilli: Int = 1000,
      dedupeIds: Boolean = false): DataFrame = synchronized {
    step(spark, "ivfpq_codes", "fold") {
      val t0 = System.currentTimeMillis()
      val codesPath = ivfPqCodesPath(sfDir, nList, iters, m, ksub)
      require(exists(spark, codesPath),
        "ivfPqIndexAppend requires a trained index (call ivfPqIndex first)")
      // re-registers the bucketed table after a catalog loss (restart)
      // and loads the frozen artifacts; never retrains here
      val (cents, cbRows, codes) = ivfPqIndex(spark, sfDir, nList, iters, m,
        ksub, dim)
      val prep = spread(graft.operators.Similarity
        .prepared(batch, idCol, vecCol)
        .filter(size(col("qv")) === dim))
      val encoded = graft.operators.Similarity
        .ivfPqCodes(graft.operators.Similarity.ivfPqResiduals(prep, cents),
          cbRows, m, ksub, dim)
        .localCheckpoint(true) // encode once: the write + audit both read it
      val newCodes =
        if (!dedupeIds) encoded
        else fresh(encoded, "nid", codes, "nid").localCheckpoint(true)
      append(spark, codesPath, newCodes)
      val post = spark.table(tableName(codesPath))
      // drift audit WITHOUT an index-sized shuffle: both sides reduce to
      // per-cell counts map-side (the nid anti-join spelling shuffled
      // the whole index per fold — ScaleAudit caught it: 3× shuffle at
      // 5× index); the only index-proportional cost left is the
      // RLE-compressed single-column cid scan
      val totals = post.groupBy("cid").agg(count(lit(1)).as("n_total"))
      val news = newCodes.groupBy("cid").agg(count(lit(1)).as("n_appended"))
      val stats = totals.join(news, Seq("cid"), "left")
        .select(col("cid"),
          (col("n_total") - coalesce(col("n_appended"), lit(0L)))
            .as("n_index"),
          coalesce(col("n_appended"), lit(0L)).as("n_appended"),
          col("n_total"))
        .localCheckpoint(true)
      val agg = stats.agg(sum("n_total"), max("n_total")).head()
      val (total, maxCell) = (agg.getLong(0), agg.getLong(1))
      logEvent(spark, root(sfDir), "fold", "ivfpq_codes", t0, newCodes.count(),
        detail = s"max_cell_share_milli=${maxCell * 1000L / total}")
      require(maxCell * 1000L <= maxCellShareMilli.toLong * total,
        s"drift guard: hottest cell holds $maxCell/$total rows " +
          s"(> $maxCellShareMilli/1000 of the index) — rebuild the " +
          "quantizer before further folds")
      stats
    }
  }

  /** REBUILD the persisted IVF-PQ index from `corpus` — the repair a
    * tripped drift guard demands ([[ivfPqIndexAppend]] fails fast when
    * a cell's post-append share exceeds the caller's threshold; this
    * is the "rebuild the quantizer" that failure points at).
    *
    * Folds encode against FROZEN artifacts, so a shifted ingest
    * distribution piles batches into few cells (hot probe partitions,
    * recall loss) until the quantizer re-learns the data: the rebuild
    * retrains all three artifact families — coarse quantizer, residual
    * codebook, cid-bucketed codes — from the CURRENT corpus with the
    * exact derivation [[ivfPqIndex]] uses, so the result is
    * byte-identical to a from-scratch retrain (ModelsSpec pins it) and
    * reload ≡ retrain keeps holding afterwards: every retraining
    * oracle still hash-matches. The caller supplies the raw vectors
    * (base + every folded batch): PQ codes are lossy, so the index
    * cannot rebuild from itself — at 100 TB this is the embeddings
    * table the folds also landed in.
    *
    * All three families stage as UNCOMMITTED next generations first
    * ([[Generations]] — the live index serves untouched during the
    * corpus-sized retrain), then the cutover is ONE atomic marker
    * create: quantizer and codebook markers flip first (each names a
    * complete single artifact, safe standalone), and the CODES marker
    * — whose content records the exact quantizer/codebook generations
    * the codes were encoded against — publishes the whole triple last.
    * [[ivfPqIndex]] always loads the quantizer/codebook THROUGH that
    * pairing, so a crash anywhere in this function leaves serving on
    * one complete, internally consistent triple (old or new, never
    * mixed): a torn cutover is impossible, not merely fail-fast, and
    * serving never pauses. Torn uncommitted generations are reclaimed
    * by the next attempt or [[vacuum]]. The codes table is written
    * pre-partitioned on the bucket hash, so the rebuilt index starts
    * at its minimal ≤[[IndexBuckets]]-file layout (no separate compact
    * needed). Returns the rebuilt `(centroids, codebookRows, codes)`. */
  def ivfPqRebuild(spark: SparkSession, sfDir: String, corpus: DataFrame,
      idCol: String, vecCol: String, nList: Int = 16, iters: Int = 2,
      m: Int = 8, ksub: Int = 256, dim: Int = 64)
      : (DataFrame, DataFrame, DataFrame) = synchronized {
    step(spark, "ivfpq_codes", "rebuild") {
      val t0 = System.currentTimeMillis()
      val centPath = ivfCentroidsPath(sfDir, nList, iters)
      val cbPath = ivfPqCodebookPath(sfDir, nList, iters, m, ksub)
      val codesPath = ivfPqCodesPath(sfDir, nList, iters, m, ksub)
      // the trainer's exact derivation over the caller's corpus: the
      // quantizer trains on ALL prepared rows (ivfCentroids' spelling),
      // codebook + codes on the dim-matched subset (ivfPqIndex's)
      val prepAll = spread(
        graft.operators.Similarity.prepared(corpus, idCol, vecCol))
        .localCheckpoint(true) // Lloyd steps + residuals all read it
      val cents = graft.operators.Similarity
        .refinedCentroids(prepAll, nList, iters).localCheckpoint(true)
      val res = graft.operators.Similarity
        .ivfPqResiduals(prepAll.filter(size(col("qv")) === dim), cents)
        .localCheckpoint(true) // codebook + codes both read it
      val cbRows = res.filter(col("id") < ksub)
        .select(col("id").as("cid"), col("rv").as("cv"))
        .localCheckpoint(true)
      // stage all three next generations (serving reads the old heads);
      // the heartbeat keeps all three leases fresh across the rebuild —
      // the repo's longest staged write, the case the TTL must not bound
      val (cn, bn, kn) = Generations.withLeaseHeartbeat(spark,
          Seq(centPath, cbPath, codesPath)) {
        // all three family leases are taken up front in the canonical
        // quantizer → codebook → codes order (Generations.prepareAll's
        // acquisition-order contract): two concurrent rebuilds collide
        // on the FIRST family, the loser aborts holding nothing, and a
        // fence arriving mid-acquisition releases what was already taken
        // instead of fencing the winner's next cycle for a TTL
        val Seq((cn, cdir), (bn, bdir), (kn, kdir)) =
          Generations.prepareAll(spark, Seq(centPath, cbPath, codesPath))
        writeGen(spark, centPath, cents, cdir)
        writeGen(spark, cbPath, cbRows, bdir)
        writeGen(spark, codesPath,
          graft.operators.Similarity.ivfPqCodes(res, cbRows, m, ksub, dim),
          kdir)
        // remember what the OLD head pairs with: those generations must
        // survive this cutover's reclaim (keep-window readers), while the
        // generic ≤ head-Keep rule cannot see pairing references
        val prevPair = pairing(spark, codesPath)
        // cutover: quantizer + codebook markers first (a crash after them
        // leaves the codes head still pairing the OLD generations — which
        // the reclaim below has not run to delete — so serving stays on
        // the old triple), then the codes marker publishes the new triple
        // in one atomic create
        crashPoint("rebuild_staged")
        Generations.commit(spark, centPath, cn, reclaim = false)
        crashPoint("rebuild_after_cent")
        Generations.commit(spark, cbPath, bn, reclaim = false)
        crashPoint("rebuild_after_cb")
        Generations.commit(spark, codesPath, kn, pairingContent(cn, bn))
        // reclaim old quantizer/codebook generations EXCEPT what the new
        // and previous codes heads pair with
        Generations.reclaimExcept(spark, centPath, cn,
          prevPair.map(_._1).toSet)
        Generations.reclaimExcept(spark, cbPath, bn,
          prevPair.map(_._2).toSet)
        (cn, bn, kn)
      }
      logEvent(spark, root(sfDir), "rebuild", "ivfpq_codes", t0,
        prepAll.count(), detail = s"cent=$cn,cb=$bn,codes=$kn")
      ivfPqIndex(spark, sfDir, nList, iters, m, ksub, dim)
    }
  }

  // ---- near-dup cluster map (the dedup map) ------------------------------

  def dedupMapPath(sfDir: String, tPct: Int): String =
    s"${root(sfDir)}/dedup_map_j$tPct"

  /** The persisted near-dup cluster assignment `(id, label)` at Jaccard
    * ≥ `tPct`/100 — THE artifact a dedup pipeline materializes: the
    * expensive pass (prefix-filtered similarity join + pointer-jumping
    * connected components, the bench registry's slowest family) runs
    * once per corpus; every downstream consumer (survivor pick,
    * sampling weights, decontamination joins) reads the map. Written
    * BUCKETED by `id`, so joins back to an id-bucketed corpus plan
    * zero map-side exchange. Deterministic (min-label canonicalization)
    * — the recursive-CTE oracle that re-derives the components still
    * hash-matches a reload. */
  def dedupMap(spark: SparkSession, sfDir: String,
      tPct: Int = 50): DataFrame =
    ensure(spark, dedupMapPath(sfDir, tPct)) {
      val docs = graft.Tables.documents(spark, sfDir)
      val pairs = Dedup
        .jaccardPairs(docs, "doc_id", "text", tPct / 100.0)
        .select("i", "j")
      Dedup.components(docs.select(col("doc_id").as("id")), pairs,
        pairsContained = true)
    }

  /** The map's label-REMAP side table `(from_label, to_label)` — the
    * merge ledger [[dedupMapAppend]] maintains (see there). */
  def dedupRemapPath(sfDir: String, tPct: Int): String =
    s"${dedupMapPath(sfDir, tPct)}_remap"

  /** The cluster map with merge remaps applied — what every consumer
    * of a FOLDED map must read: `(id, label)` where stale labels of
    * clusters that later merged resolve to the merged cluster's
    * canonical min. The remap table is flat (one hop, maintained so by
    * [[dedupMapAppend]]) and merge-event-sized, so the resolve is one
    * broadcast join over the id-bucketed map read — the map itself
    * never shuffles. Equal to a plain [[dedupMap]] read when no folds
    * have merged anything (no remap file). */
  def dedupMapResolved(spark: SparkSession, sfDir: String,
      tPct: Int = 50): DataFrame = {
    val map = dedupMap(spark, sfDir, tPct)
    val rp = dedupRemapPath(sfDir, tPct)
    if (!exists(spark, rp)) map else resolveLabels(map, serve(spark, rp))
  }

  /** `map`'s `(id, label)` rows with labels resolved through the flat
    * `remap` ledger (one broadcast hop; the map never shuffles). */
  private def resolveLabels(map: DataFrame, remap: DataFrame): DataFrame =
    map.join(broadcast(remap), map("label") === remap("from_label"), "left")
      .select(map("id"), coalesce(col("to_label"), map("label")).as("label"))

  /** Fold a batch of new documents INTO the persisted cluster map —
    * the missing fourth daily loop (postings: [[postingsAppend]], LSH:
    * [[lshIndexAppend]], ANN codes: [[ivfPqIndexAppend]], and now the
    * map): without it a folded corpus serves survivor picks, sampling
    * weights, and decontamination joins from a map frozen at base-train
    * time — every folded document invisible, every cross-batch
    * duplicate double-counted.
    *
    * The fold never re-enumerates old-vs-old pairs: the stored map IS
    * their transitive closure, so the union corpus's components equal
    * components over (batch↔batch pairs) ∪ (batch↔index pairs with the
    * old endpoint CONTRACTED to its resolved label) ∪ the old
    * clusters. Batch↔index pairs come from the persisted LSH index
    * ([[graft.operators.Dedup.crossSplitPairsIndexed]] — band-key
    * equi-join, index side zero-exchange), batch↔batch pairs from the
    * exact prefix-filtered join over the batch alone; the mini
    * component pass runs over a matches-sized graph, never the corpus.
    *
    * A batch doc bridging two old clusters MERGES them. Parquet rows
    * are immutable, so the merge is recorded in a side REMAP table
    * `(from_label, to_label)` rather than by rewriting the map: batch
    * rows append bucket-preserving with their final labels, and
    * [[dedupMapResolved]] applies the (merge-event-sized, broadcast)
    * remap at read. The remap is kept FLAT — each fold re-points
    * existing rows through its own merges and rewrites the (tiny)
    * table whole — so resolution is always one hop; labels only ever
    * decrease (a cluster's label is its min id), so a dead label can
    * never be reborn and stale remap rows are harmless no-ops.
    * [[compactDedupMap]] folds the remap into the base rows and
    * empties it.
    *
    * Write order is the crash contract: LSH index fold FIRST (its own
    * two-layer idempotence), remap rewrite second, map append LAST.
    * A replay after any prefix of those writes recomputes the same
    * pairs (the index probe anti-joins batch ids away, so a folded
    * index never matches the batch to itself) and converges: remap
    * rewrite is idempotent, and the map append only happens once
    * because `dedupeIds` drops ids already present. The remap rewrite
    * itself is an atomic [[Generations]] cutover (a crash mid-rewrite
    * can no longer destroy prior merge history — the old committed
    * ledger keeps serving), but ACROSS the two artifacts a reader
    * racing the fold can still see the remap before the batch rows (or
    * vice versa) — folds needing one atomic multi-artifact snapshot
    * stage through a [[VersionedStore]].
    *
    * `dedupeIds = true` is the at-least-once guard (streaming
    * maintenance): ids already in the map drop from the batch before
    * ANY write, so a fully-replayed fold is a no-op. The check streams
    * the two-column map MAP-SIDE against a broadcast of the batch ids
    * — the map never shuffles.
    *
    * `precomputedPairs`, when supplied, are the batch↔index edges
    * `(i = index doc, j = batch doc, jac ≥ tPct/100)` the caller
    * already probed ([[graft.operators.Dedup.crossSplitPairsIndexed]]
    * over THIS batch against THIS index, materialized) — the streaming
    * maintenance loop derives its per-doc sink summary and this fold
    * from ONE probe instead of two. Must cover the whole batch;
    * `dedupeIds` filtering of the pairs happens here (a dropped
    * replayed doc contributes no edges). `precomputedSets` likewise
    * passes the caller's [[graft.operators.Dedup.shingleSets]] of the
    * whole batch so the fold's remaining consumers reuse the one
    * shingle pass the probe already paid. */
  def dedupMapAppend(spark: SparkSession, sfDir: String, batch: DataFrame,
      idCol: String, textCol: String, tPct: Int,
      k: Int = 32, b: Int = 16, w: Int = 3,
      dedupeIds: Boolean = false,
      precomputedPairs: Option[DataFrame] = None,
      precomputedSets: Option[DataFrame] = None): Unit = synchronized {
    step(spark, "dedup_map", "fold") {
      val t0 = System.currentTimeMillis()
      val mapPath = dedupMapPath(sfDir, tPct)
      require(exists(spark, mapPath),
        "dedupMapAppend requires a trained map (call dedupMap first)")
      require(exists(spark, lshSetsPath(sfDir, w)) &&
        exists(spark, lshBandsPath(sfDir, k, b, w)),
        "dedupMapAppend requires the LSH index (call lshIndex first)")
      val resolved = dedupMapResolved(spark, sfDir, tPct)
      val todo =
        if (!dedupeIds) batch
        else fresh(batch, idCol, dedupMap(spark, sfDir, tPct), "id")
      val bdf = todo.select(col(idCol), col(textCol)).localCheckpoint(true)
      if (!bdf.isEmpty) { // a pure replay folds to a no-op
        val (bands, sets) = lshIndex(spark, sfDir,
          sys.error("index exists — training must not run"), idCol,
          textCol, k, b, w)
        // shingle the batch ONCE: the probe, the inner pair join, and the
        // LSH fold below all consume this one checkpointed set table —
        // tokenize+shingle is the fold's dominant per-row cost, and the
        // naive spelling paid it three times per fold (a caller that
        // already probed passes its sets in, dropping this to zero here;
        // dedupe-filtered rows are cut by the id semi-join)
        val bSets = batchSets(precomputedSets, bdf, idCol, textCol, w)
        // batch↔index edges (probed here, or the caller's single probe),
        // old endpoint contracted to its RESOLVED label; when dedupeIds
        // dropped replayed docs, their precomputed edges drop with them
        val rawPairs = precomputedPairs
          .map(_.join(broadcast(bdf.select(col(idCol).as("j"))), Seq("j"),
            "left_semi"))
          .getOrElse(Dedup.crossSplitPairsIndexed(bands, sets, bdf, idCol,
            textCol, tPct / 100.0, k, b, w, precomputedSets = Some(bSets)))
        val crossEdges = rawPairs
          .select(col("i").as("id"), col("j"))
          .join(resolved, Seq("id"))
          .select(col("label").as("i"), col("j"))
        // batch↔batch edges: exact prefix-filtered join over the batch
        val innerEdges = Dedup
          .jaccardPairs(bdf, idCol, textCol, tPct / 100.0, w,
            precomputedSets = Some(bSets))
          .select(col("i"), col("j"))
        // one materialization carries both edge classes; the cross flag
        // marks which i-endpoints are CONTRACTED old labels — the only
        // labels that can merge away, hence the only merge-ledger
        // candidates (batch-internal i's would only add no-op rows that
        // bloat the broadcast ledger)
        val edges0 = crossEdges.withColumn("cross", lit(true))
          .unionAll(innerEdges.withColumn("cross", lit(false)))
          .localCheckpoint(true)
        val edges = edges0.select("i", "j")
        val nodes = bdf.select(col(idCol).as("id"))
          .unionAll(edges.select(col("i").as("id"))).distinct()
        val comp = Dedup.components(nodes, edges, pairsContained = true)
          .localCheckpoint(true) // everything below reads it
        crashPoint("map_start")
        // the daily LSH fold first: its own idempotence layer, and folding
        // it before the map writes means every crash-window replay can
        // still regenerate identical pairs (see the scaladoc contract)
        lshIndexAppend(spark, sfDir, bdf, idCol, textCol, k, b, w,
          dedupeIds = true, precomputedSets = Some(bSets))
        crashPoint("map_after_lsh")
        // merge ledger: touched old labels whose component found a
        // smaller canonical id
        val oldLabels = edges0.filter(col("cross"))
          .select(col("i").as("id")).distinct()
        val remapNew = comp.join(oldLabels, Seq("id"), "left_semi")
          .filter(col("label") =!= col("id"))
          .select(col("id").as("from_label"), col("label").as("to_label"))
          .localCheckpoint(true)
        val rp = dedupRemapPath(sfDir, tPct)
        val oldRemap = if (exists(spark, rp)) Some(serve(spark, rp)) else None
        val mergedRemap = (oldRemap, remapNew.isEmpty) match {
          case (None, true) => None
          case (None, false) => Some(remapNew)
          case (Some(o), _) =>
            Some(o
              .join(remapNew.select(col("from_label").as("f2"),
                col("to_label").as("t2")), o("to_label") === col("f2"),
                "left")
              .select(o("from_label"),
                coalesce(col("t2"), o("to_label")).as("to_label"))
              .unionAll(remapNew))
        }
        // ATOMIC ledger rewrite through the generation cutover: the old
        // ledger's files survive the flip (keep-2, and they are what the
        // merged plan reads), so a crash mid-rewrite leaves the previous
        // committed ledger serving — never a half-written or deleted one
        mergedRemap.foreach(rewrite(spark, rp, _))
        crashPoint("map_after_remap")
        // batch rows last, with their final labels, bucket-preserving
        append(spark, mapPath,
          comp.join(broadcast(bdf.select(col(idCol).as("id"))), Seq("id"),
            "left_semi"))
        logEvent(spark, root(sfDir), "fold", "dedup_map", t0, bdf.count(),
          detail = s"merges=${remapNew.count()}")
      }
    }
  }

  /** Fold the remap ledger into the map's base rows and rewrite the
    * table at its minimal one-file-per-bucket layout — the
    * steady-state companion [[dedupMapAppend]]'s scaladoc promises:
    * after enough merge folds the broadcast remap is pure overhead and
    * the appended files fragment the buckets; this rewrites resolved
    * rows through the same atomic generation-pointer cutover as
    * [[compactBucketed]] and then DELETES the (now folded-in) remap.
    * A crash between the cutover and the remap delete leaves stale
    * remap rows whose from-labels no longer occur in the map — dead
    * labels are never reborn (labels only decrease), so resolving
    * through them is a no-op and the next compact clears them. Returns
    * (dataFilesBefore, dataFilesAfter). */
  def compactDedupMap(spark: SparkSession, sfDir: String,
      tPct: Int): (Long, Long) = synchronized {
    val path = dedupMapPath(sfDir, tPct)
    val rp = dedupRemapPath(sfDir, tPct)
    if (!exists(spark, rp)) compact(spark, path)
    else step(spark, "dedup_map", "compact") {
      // resolve-and-rewrite through the shared generation cutover:
      // read the head generation's FILES, apply the remap, write the
      // next generation, flip the pointer — the raw files being read
      // survive the whole pass (keep-2), so no checkpoint sever is
      // needed and a crash leaves the old head serving
      val raw = spark.read.parquet(servingDir(spark, path))
      val counts =
        compact(spark, path, Some(resolveLabels(raw, serve(spark, rp))))
      // the ledger folded into the base rows: delete the remap FAMILY
      // (a crash before this delete leaves stale remap rows whose
      // from-labels no longer occur in the map — harmless no-ops, see
      // the scaladoc above — cleared by the next compact)
      val fs = new org.apache.hadoop.fs.Path(rp)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(rp), true)
      counts
    }
  }

  // ---- token document-frequency table (rarity/tf-idf statistic) ----------

  def dfTablePath(sfDir: String): String =
    s"${root(sfDir)}/df_table"

  /** The persisted token document-frequency table for this corpus:
    * `(tok, df)` — vocabulary-sized, derived once
    * ([[graft.operators.TextOps.dfTable]]) and broadcast by every
    * rarity/tf-idf consumer thereafter. Deterministic; the
    * `tx_rarity_indexed` retraining oracle proves reload ≡ retrain. */
  def dfTable(spark: SparkSession, sfDir: String): DataFrame =
    ensure(spark, dfTablePath(sfDir))(
      TextOps.dfTable(tokenized(graft.Tables.documents(spark, sfDir))))

  // ---- BM25 retrieval artifacts (postings index + doc lengths) -----------

  def postingsPath(sfDir: String): String =
    s"${root(sfDir)}/postings"
  def docLensPath(sfDir: String): String =
    s"${root(sfDir)}/doc_lens"

  /** The persisted inverted index `(tok, doc_id, tf)`, BUCKETED by
    * `tok`: a retrieval query joins its (broadcast, few-row) term set
    * against the postings with zero index-side exchange, and bucket
    * pruning means it reads only the query terms' buckets — never
    * re-tokenizes the corpus. Built once per corpus; the
    * `tx_bm25_postings` retraining oracle proves reload ≡ retokenize. */
  def postings(spark: SparkSession, sfDir: String): DataFrame =
    ensure(spark, postingsPath(sfDir))(
      postingsRows(tokenized(graft.Tables.documents(spark, sfDir))))

  def positionalPostingsPath(sfDir: String): String =
    s"${root(sfDir)}/postings_pos"

  /** The persisted POSITIONAL inverted index `(tok, doc_id, positions)`
    * — positions are the token's 1-based offsets within the document,
    * sorted ascending — BUCKETED by `tok` like [[postings]]. This is
    * the artifact that upgrades the retrieval surface from bag-of-words
    * ranking to phrase and proximity queries (Lucene keeps the same
    * split: frequencies vs positions postings): an exact-phrase match
    * is an intersection of one term's positions with the next term's
    * positions shifted by one, a within-k proximity match is a bounded
    * position-distance pair count — both computed per document from
    * the index rows alone, never re-tokenizing the corpus. Row
    * cardinality equals the tf postings' (one row per distinct
    * (tok, doc) pair; positions add ~8 B per occurrence), and
    * [[postingsAppend]] folds daily batches into it bucket-preserving.
    * The `tx_phrase_match` retraining oracle proves reload ≡
    * retokenize. */
  def positionalPostings(spark: SparkSession, sfDir: String): DataFrame =
    ensure(spark, positionalPostingsPath(sfDir))(
      positionalRows(tokenized(graft.Tables.documents(spark, sfDir))))

  /** Tokenized docs `(doc_id, w)` — every retrieval artifact's rows
    * (train, one-pass build and fold alike) derive from these. */
  private def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("w"))

  private def postingsRows(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), explode(col("w")).as("tok"))
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))

  private def lensRows(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), size(col("w")).cast("long").as("dl"))

  /** Positional postings rows from tokenized docs `(doc_id, w)`:
    * sorted-ascending 1-based offsets per (tok, doc). `sort_array`
    * makes the row deterministic regardless of collect order. */
  private def positionalRows(toks: DataFrame): DataFrame =
    toks
      .select(col("doc_id"),
        posexplode(col("w")).as(Seq("i", "tok")))
      .groupBy("tok", "doc_id")
      .agg(sort_array(collect_list(col("i").cast("long") + lit(1L)))
        .as("positions"))

  /** The persisted per-document token length `(doc_id, dl)` — the BM25
    * normalizer's corpus statistic, stored beside the postings so
    * query-time scoring touches no raw text at all. */
  def docLens(spark: SparkSession, sfDir: String): DataFrame =
    ensure(spark, docLensPath(sfDir))(
      lensRows(tokenized(graft.Tables.documents(spark, sfDir))))

  /** Build ALL base retrieval artifacts for a corpus in ONE tokenize
    * pass. The individual accessors ([[postings]], [[docLens]],
    * [[dfTable]], [[positionalPostings]]) each retrain independently —
    * correct, but a caller that needs the full retrieval tier (every
    * BM25/phrase consumer, and [[postingsAppend]]'s base-ensure
    * prologue) would tokenize the corpus three or four times. At
    * 100 TB the tokenize IS the build cost, so this builder stages the
    * tokenized corpus ONCE (a parquet staging dir under the model
    * root — durable across executor loss, unlike a localCheckpoint,
    * and reclaimed at the end or by [[vacuum]]/[[drop]] after a crash)
    * and derives every missing artifact from it:
    *
    *   - postings: explode + (tok, doc) count, bucketed write;
    *   - positional postings (when requested): [[positionalRows]];
    *   - doc lengths: `size(w)` per doc (from the TOKENS, not the
    *     postings — a zero-token doc has no postings rows but still
    *     owns a length row, and the BM25 normalizer's corpus count
    *     must include it);
    *   - df table: row-count per tok over the JUST-BUILT postings —
    *     postings rows are exactly the distinct (tok, doc) pairs, so
    *     this is value-identical to the from-text derivation while
    *     reading the bucketed index with zero exchange.
    *
    * Each derivation is value-identical to its accessor's, so the
    * retraining oracles (`tx_bm25_*`, `tx_phrase_match`) hash-match
    * either way. `docs` overrides the corpus source (fold queries
    * build base artifacts from an in-plan slice without materializing
    * a run-private corpus copy first); it must carry `doc_id` and
    * `text`. No-op when nothing is missing. */
  def buildRetrievalArtifacts(spark: SparkSession, sfDir: String,
      docs: Option[DataFrame] = None,
      includePositional: Boolean = false): Unit = synchronized {
    val artifacts = Seq(postingsPath(sfDir), docLensPath(sfDir),
      dfTablePath(sfDir)) ++
      (if (includePositional) Seq(positionalPostingsPath(sfDir)) else Nil)
    if (!artifacts.forall(exists(spark, _))) step(spark, "postings", "train") {
      val staging = s"${root(sfDir)}/tok_staging"
      val sp = new org.apache.hadoop.fs.Path(staging)
      val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      tokenized(docs.getOrElse(graft.Tables.documents(spark, sfDir)))
        .write.mode("overwrite").parquet(staging)
      val toks = spark.read.parquet(staging)
      ensure(spark, postingsPath(sfDir))(postingsRows(toks))
      if (includePositional) {
        ensure(spark, positionalPostingsPath(sfDir))(positionalRows(toks))
      }
      ensure(spark, docLensPath(sfDir))(lensRows(toks))
      ensure(spark, dfTablePath(sfDir))(
        postings(spark, sfDir).groupBy("tok").agg(count(lit(1)).as("df")))
      fs.delete(sp, true)
    }
    ()
  }

  /** Fold a batch of new documents INTO the persisted retrieval
    * artifacts — the daily loop for BM25 serving, closing the same
    * append story as [[lshIndexAppend]]/[[ivfPqIndexAppend]]: the
    * batch's postings rows append to the tok-bucketed index
    * PRESERVING its bucket spec (zero-exchange probes survive every
    * fold), the batch's doc lengths append to the stored length table,
    * and the df statistic — which, unlike postings rows, is NOT
    * per-doc-independent — is REFRESHED by merging the batch's
    * distinct-token increments into the stored table. A fold that
    * appended postings but kept the stale df would silently mis-weight
    * idf; ModelsSpec pins folded ≡ retokenize-from-scratch for all
    * three artifacts AND for the BM25 scores served from them.
    *
    * The df refresh is an atomic [[Generations]] cutover (a crash
    * mid-rewrite can no longer lose prior folds' increments — the old
    * committed statistic keeps serving) and the length table appends
    * into its head generation; but ACROSS artifacts a reader racing
    * the fold can still see the old statistic with the new postings
    * (scores off by one batch's df). Pipelines needing one atomic
    * multi-artifact snapshot stage all three through a
    * [[VersionedStore]].
    *
    * `dedupeIds = true` makes the fold IDEMPOTENT for at-least-once
    * callers ([[graft.streaming.EventStreams.retrievalMaintenance]]),
    * and idempotent PER ARTIFACT, not merely per fold: a single
    * presence guard written last (the pre-r16 spelling, keyed on the
    * doc-length table) converges only when the crash happens before
    * the first write or after the last — a crash BETWEEN the postings
    * append and the guard's own write made the replay re-append
    * postings rows, silently doubling BM25 term frequencies (found by
    * MaintSchedulePropertySpec's crash-injection schedules). Each
    * artifact now carries its own replay guard:
    *
    *   - postings / positional / doc-lens rows: docs already present
    *     in THAT artifact drop from its batch slice — ONE presence
    *     probe ([[freshByArtifact]]) streams the three artifacts'
    *     tagged doc_id columns map-side against a broadcast of the
    *     batch ids, with a min/max id range filter so parquet
    *     row-group stats prune files that cannot contain batch ids
    *     (daily folds carry recent, clustered ids; the probe reads the
    *     fold-recent tail, not a year of index);
    *   - the df statistic has no per-doc memory (it is a merged
    *     count), so its guard is a FOLD LEDGER: the df rewrite's
    *     commit marker records the order-independent digest of the
    *     batch ids, and a replay whose digest already heads the ledger
    *     skips the merge — applied exactly once per fold.
    *
    * Write order is postings → positional → df → doc-lens: the df
    * increments are derived from the docs NOT yet in the length table,
    * so the length append must come after the df merge (lens-first
    * would starve a replayed df of its increments). Convergence under
    * any crash prefix + in-order replay, and each artifact is always
    * in exactly its pre-fold or post-fold state — both pinned by
    * MaintSchedulePropertySpec across random crash/compact/vacuum/
    * restart schedules. Replays are assumed IN-ORDER (foreachBatch
    * retries a failed batch before advancing), which every
    * at-least-once Spark sink provides. */
  def postingsAppend(spark: SparkSession, sfDir: String,
      batch: DataFrame, idCol: String, textCol: String,
      dedupeIds: Boolean = false): Unit = synchronized {
    step(spark, "postings", "fold") {
      val t0 = System.currentTimeMillis()
      // ensure all three artifacts exist for the BASE corpus before
      // folding — ONE tokenize pass when they're all missing — then
      // re-register the bucketed tables after a restart
      buildRetrievalArtifacts(spark, sfDir)
      val post = postings(spark, sfDir)
      val pos =
        if (!exists(spark, positionalPostingsPath(sfDir))) None
        else Some(positionalPostings(spark, sfDir))
      val b = batch
        .select(col(idCol).as("doc_id"), col(textCol).as("text"))
        .localCheckpoint(true) // guards + tokenize all read it
      if (!b.isEmpty) {
        // the fold's identity: an order-independent digest of the batch
        // ids — count plus TWO independent 64-bit xor-of-xxhash64 lanes
        // (different salts), so an accidental collision with the ledger
        // head (which would silently drop a fresh fold's df increments)
        // needs a simultaneous 128-bit coincidence. Hashing also keeps
        // the digest TYPE-AGNOSTIC (the pre-r17 bit_xor(doc_id) failed
        // analysis on string ids); note the retrieval artifacts' own
        // schema still fixes doc_id to BIGINT — this just keeps the
        // guard from being the narrowing point. min/max ride along in
        // the id's native type for the probe's row-group range pruning.
        val idAgg = b.agg(count(lit(1)),
          expr("bit_xor(xxhash64(doc_id))"),
          expr("bit_xor(xxhash64(doc_id, 1017L))"),
          min("doc_id"), max("doc_id")).head()
        val foldId = s"fold=${idAgg.getLong(0)}_${idAgg.getLong(1)}" +
          s"_${idAgg.getLong(2)}"
        val range = (idAgg.get(3), idAgg.get(4))
        val (freshPost, freshPos, freshLens, dfApplied) =
          if (!dedupeIds) (b, b, b, false)
          else {
            val lensT = docLens(spark, sfDir)
            val applied = Generations.head(spark, dfTablePath(sfDir))
              .exists(_._2 == foldId)
            val slices = freshByArtifact(b, range,
              Seq("postings" -> post, "doc_lens" -> lensT) ++
                pos.map("positional" -> _))
            (slices("postings"), slices.getOrElse("positional", b),
              slices("doc_lens"), applied)
          }
        val replay = dedupeIds && dfApplied &&
          freshPost.isEmpty && freshLens.isEmpty &&
          (pos.isEmpty || freshPos.isEmpty)
        if (!replay) { // a pure replay: every artifact already folded
          crashPoint("fold_start")
          // tokenize ONCE over the raw batch; each artifact consumes its
          // fresh slice (a partial replay re-tokenizes already-applied
          // docs it then filters out — rare, and far cheaper than a
          // per-artifact tokenize)
          val toks = tokenized(b).localCheckpoint(true)
          def toksOf(slice: DataFrame): DataFrame =
            if (!dedupeIds) toks
            else toks.join(broadcast(slice.select("doc_id")),
              Seq("doc_id"), "left_semi")
          val pToks = toksOf(freshPost)
          if (!pToks.isEmpty) {
            append(spark, postingsPath(sfDir), postingsRows(pToks))
          }
          crashPoint("after_postings")
          // the positional index, when this corpus has built one, folds
          // in the same batch rows (positions are doc-local offsets, so
          // an append IS the retokenize) — skipping it would silently
          // serve phrase queries from a pre-fold snapshot while BM25
          // sees the grown corpus
          if (pos.nonEmpty) {
            val posToks = toksOf(freshPos)
            if (!posToks.isEmpty) {
              append(spark, positionalPostingsPath(sfDir),
                positionalRows(posToks))
            }
          }
          crashPoint("after_positional")
          // df refresh: old counts + the fold's distinct-token increments
          // (both sides vocabulary-sized; the merged table rewrites whole
          // as an atomic next generation — the old head's files survive
          // the flip, so no checkpoint sever, and a crash mid-rewrite
          // leaves the previous committed statistic serving). Increments
          // come from the docs not yet in the LENGTH table (written after
          // this, so a replayed merge still sees them), and the fold
          // digest rides in the commit marker as the applied-ledger.
          if (!dfApplied) {
            val inc = toksOf(freshLens)
              .select(explode(array_distinct(col("w"))).as("tok"))
              .groupBy("tok").agg(count(lit(1)).as("inc"))
            val merged = dfTable(spark, sfDir)
              .join(inc, Seq("tok"), "full_outer")
              .select(col("tok"),
                (coalesce(col("df"), lit(0L)) +
                  coalesce(col("inc"), lit(0L))).as("df"))
            rewrite(spark, dfTablePath(sfDir), merged, foldId)
          }
          crashPoint("after_df")
          val lensToks = toksOf(freshLens)
          if (!lensToks.isEmpty) {
            append(spark, docLensPath(sfDir), lensRows(lensToks))
          }
          logEvent(spark, root(sfDir), "fold", "postings", t0,
            freshLens.count())
        }
      }
    }
  }

  /** Rewrite one artifact family into its minimal file layout; the
    * family's bucket column comes from the family table.
    *
    * Every daily fold ([[postingsAppend]], [[lshIndexAppend]],
    * [[ivfPqIndexAppend]]) APPENDS bucketed files: after k folds a
    * bucket's rows are spread over ~k small files, and at 100 TB a
    * year of daily folds turns every index probe into a
    * hundreds-of-small-files read (open/seek dominated, splittable
    * parallelism lost). Compaction is the standard steady-state
    * answer: rewrite the table's current rows into one file per
    * bucket, PRESERVING the bucket spec — probe plans (zero
    * index-side exchange) are untouched, only the file layout shrinks.
    * The per-fold-APPENDED plain family (document lengths) rewrites
    * into one file, and only once it holds more than one.
    *
    * The rewrite STREAMS the head generation's files into the NEXT
    * generation directory (written as a bucketed table with the rows
    * pre-partitioned on the bucket hash so each bucket lands in ONE
    * file — never materialized in executor storage, so a 100 TB index
    * compacts in one bounded pass), then publishes it with one atomic
    * commit marker ([[Generations]]). Serving never pauses: readers
    * keep resolving the old head until the marker lands, and the old
    * generation's files survive one more cutover (keep-2) for readers
    * that resolved it just before the flip. Crash anywhere before the
    * marker leaves an orphan generation the next compact (or
    * [[vacuum]]) reclaims; the live artifact is never deleted,
    * renamed, or mid-swap — a torn cutover is structurally impossible.
    * The head's commit-marker content (the IVF-PQ codes family's
    * quantizer pairing) carries forward: compaction is data-invariant,
    * metadata included. Returns (dataFilesBefore, dataFilesAfter). */
  def compactBucketed(spark: SparkSession, path: String): (Long, Long) =
    compact(spark, path)

  /** [[compactBucketed]], optionally with caller-supplied rows (the
    * dedup-map compactor resolves its remap ledger in the same pass).
    * The default reads the head generation's FILES, not the catalog
    * table: a bucketed-table scan advertises
    * HashPartitioning(bucketCol, IndexBuckets), the optimizer then
    * drops the writer's repartition as redundant, and
    * DisableUnnecessaryBucketedScan subsequently disables the bucketed
    * read — plain file splits with mixed buckets per task, so the
    * bucketBy writer would emit one file per (task, bucket) instead of
    * one per bucket. */
  private def compact(spark: SparkSession, path: String,
      rows: Option[DataFrame] = None): (Long, Long) = synchronized {
    val fam = family(path)
    step(spark, fam.name, "compact") {
      val t0 = System.currentTimeMillis()
      val src = servingDir(spark, path)
      val before = Generations.countParquetFiles(spark, src)
      if (fam.bucketCol.isEmpty && before <= 1) (before, before)
      else {
        val content = Generations.head(spark, path).map(_._2).getOrElse("")
        val g = rewrite(spark, path,
          rows.getOrElse(spark.read.parquet(src)), content)
        // re-register the serving name at the new head
        if (fam.bucketCol.nonEmpty) serve(spark, path)
        val after = Generations.countParquetFiles(spark, g)
        val p = new org.apache.hadoop.fs.Path(path)
        logEvent(spark, p.getParent.toString, "compact", p.getName, t0, 0L,
          filesBefore = before, filesAfter = after)
        (before, after)
      }
    }
  }

  /** Compact this corpus's retrieval indexes (tf postings, the
    * positional index when built, the document lengths) — the
    * maintenance-window companion to [[postingsAppend]]'s daily folds:
    * the [[compactModelArtifacts]] walk restricted to the retrieval
    * families. Returns per-artifact (filesBefore, filesAfter). */
  def compactRetrievalIndexes(spark: SparkSession,
      sfDir: String): Map[String, (Long, Long)] =
    compactFamilies(spark, sfDir,
      f => Set("postings", "postings_pos", "doc_lens").contains(f.name))

  /** Compact EVERY artifact that fragments under this corpus's model
    * root — the whole-maintenance-window generalization of
    * [[compactRetrievalIndexes]]: walks the root, maps each directory
    * to its family, and rewrites each family that compacts
    * ([[Family.compacts]]). Covers every append family
    * ([[postingsAppend]], [[lshIndexAppend]], [[ivfPqIndexAppend]],
    * [[dedupMapAppend]] — the cluster map through [[compactDedupMap]],
    * which folds its merge-remap ledger into the base rows) AND the
    * one-shot bucketed trains (dedup map, BPE dictionary). Returns
    * per-artifact (filesBefore, filesAfter), keyed by directory name;
    * directories of no family (staging leftovers, the maintenance log)
    * are skipped. */
  def compactModelArtifacts(spark: SparkSession,
      sfDir: String): Map[String, (Long, Long)] =
    compactFamilies(spark, sfDir, _ => true)

  private def compactFamilies(spark: SparkSession, sfDir: String,
      include: Family => Boolean): Map[String, (Long, Long)] = {
    val dir = new org.apache.hadoop.fs.Path(root(sfDir))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .flatMap(n => familyOf(n).filter(f => f.compacts && include(f))
        .map(f => (Families.indexOf(f), n, f)))
      .sortBy { case (i, n, _) => (i, n) }
      .map { case (_, n, f) =>
        n -> (
          if (f.name == "dedup_map")
            compactDedupMap(spark, sfDir, n.stripPrefix("dedup_map_j").toInt)
          else compact(spark, s"${root(sfDir)}/$n"))
      }.toMap
  }

  /** Sweep ONE corpus's model root for staging debris across ALL
    * artifact families — the global reclamation pass the per-family
    * calls only do lazily (each family reclaims its own torn attempts
    * at its next write; a family that never writes again leaks them
    * forever). Reclaims, per family directory:
    *
    *   - ORPHAN generations: `gen-<n>` dirs with no commit marker —
    *     writers that died between staging and their atomic commit
    *     ([[Generations.orphans]]);
    *   - stray entries: crashed `_tmp_` marker files and legacy
    *     pre-generation flat layouts (neither `gen-<n>` nor
    *     `_commit_<n>`), which nothing can resolve or serve;
    *   - whole staging dirs: `tok_staging`
    *     ([[buildRetrievalArtifacts]]'s crash leftover) and legacy
    *     `__compacting`/`__rebuilding` siblings.
    *
    * COMMITTED generations are never touched — retention (keep-2 and
    * the rebuild's pairing-protected quantizer generations) is the
    * commit path's business, and stale remap-ledger rows fold away in
    * [[compactDedupMap]]. `minAgeMs` gates stray deletion the same way
    * [[VersionedStore.vacuum]]'s does: an entry younger than the gate
    * may be a LIVE writer's in-flight staging (size it above the
    * longest expected stage-to-commit latency; 0 only when no writer
    * can be active). The comparison is inclusive (mtime <= now -
    * minAgeMs), so minAgeMs = 0 sweeps debris stamped in the very
    * millisecond of the call — the exact-sweep gates rely on it.
    * Returns the reclaimed paths. */
  def vacuum(spark: SparkSession, sfDir: String,
      minAgeMs: Long = 3600000L): Seq[String] = synchronized {
    val t0 = System.currentTimeMillis()
    val rootDir = new org.apache.hadoop.fs.Path(root(sfDir))
    val fs = rootDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootDir)) return Seq.empty
    val cutoff = System.currentTimeMillis() - minAgeMs
    val reclaimed = scala.collection.mutable.ArrayBuffer.empty[String]
    def rm(p: org.apache.hadoop.fs.Path, recursive: Boolean): Unit = {
      fs.delete(p, recursive)
      reclaimed += p.toString
      ()
    }
    fs.listStatus(rootDir).filter(_.isDirectory).foreach { fam =>
      val name = fam.getPath.getName
      if (name == MaintenanceLog.Family) {
        // the maintenance-events store: its internals are the
        // VersionedStore's (staged segments + commit log), not the
        // generation-pointer layout — reclaimed by ITS vacuum, never
        // swept as family strays
        ()
      } else if (name == "tok_staging" || name.endsWith("__compacting") ||
          name.endsWith("__rebuilding")) {
        if (fam.getModificationTime <= cutoff) rm(fam.getPath, true)
      } else {
        val famPath = fam.getPath.toString
        // a FRESH writer lease (< leaseTtlMs) marks a possibly-LIVE
        // cross-process writer staging a generation: its orphans are
        // in-flight work, not debris — skip them regardless of the
        // caller's age gate (the same fence prepare() honors). A stale
        // lease is a crashed holder's; its orphans reclaim normally
        // and the lease itself sweeps as a stray below.
        val lease = Generations.readLease(fs, famPath)
        val leaseFresh = lease.exists {
          case (_, m) =>
            System.currentTimeMillis() - m < Generations.leaseTtlMs
        }
        val orphan =
          if (leaseFresh) Set.empty[org.apache.hadoop.fs.Path]
          else Generations.orphans(spark, famPath).toSet
        fs.listStatus(fam.getPath).foreach { s =>
          val n = s.getPath.getName
          val isGen = n.matches("gen-\\d+")
          val isMarker = n.matches("_commit_\\d+")
          if (orphan.contains(s.getPath)) {
            if (s.getModificationTime <= cutoff) {
              // same marker-rechecked rename-based reclaim as prepare's
              // (round 19): a frozen holder's commit racing THIS sweep
              // converges instead of losing its generation — restores
              // are not reported as swept
              Generations.reclaimOrphanDir(fs, famPath, s.getPath)
              if (!fs.exists(s.getPath)) reclaimed += s.getPath.toString
            }
          } else if (n == Generations.LeaseName) {
            // the lease is a fence, not debris: only a crashed
            // holder's (past ITS ttl, not just the caller's minAge)
            // sweeps — through the rename-verified stale-only break,
            // never a blind delete (the stale lease we read may have
            // been broken and re-acquired fresh between our read and
            // our sweep; the verified take restores it instead)
            if (!leaseFresh && s.getModificationTime <= cutoff) {
              lease.foreach { case (tok, m) =>
                if (Generations.takeLeaseFile(fs, famPath, tok,
                    requireStale = true, preMtime = m)) {
                  reclaimed += s.getPath.toString
                }
              }
            }
          } else if (n.startsWith("_tmp_lease_take_")) {
            // a FRESH take-tombstone holds a STOLEN fresh lease mid-
            // restore (Generations.leaseInTransition) — in-flight
            // fence, not debris; stale ones (crashed restorer) sweep
            if (System.currentTimeMillis() - s.getModificationTime >=
                Generations.leaseTtlMs && s.getModificationTime <= cutoff) {
              rm(s.getPath, false)
            }
          } else if (n.startsWith("_tmp_reclaim_gen-")) {
            // a crashed reclaimer's index-carrying tombstone
            // (Generations.reclaimOrphanDir): under a fresh lease it is
            // a LIVE reclaim's in-flight state — never touch it; once
            // the lease is stale/absent, RESOLVE it (restore a
            // committed generation stuck inside, delete orphan debris)
            // rather than blind-sweeping — a blind delete here would
            // finish the exact data loss the reclaim protocol closes
            if (!leaseFresh && s.getModificationTime <= cutoff) {
              val restored = Generations.resolveReclaimTombstone(
                fs, famPath, s.getPath)
              if (!restored) reclaimed += s.getPath.toString
            }
          } else if (!isGen && !isMarker &&
              s.getModificationTime <= cutoff) {
            rm(s.getPath, s.isDirectory) // _tmp_ debris, legacy flats
          }
        }
      }
    }
    val out = reclaimed.toSeq
    // the sweep itself is filesystem-only; the event emit runs jobs
    step(spark, "*", "vacuum") {
      logEvent(spark, root(sfDir), "vacuum", "*", t0, out.size.toLong)
    }
    out
  }

  /** `batch`'s shingle sets ([[Dedup.shingleSets]]), materialized: the
    * caller's `precomputed` sets of a superset batch cut to its ids
    * (the rows a replay guard dropped), else shingled here. */
  private def batchSets(precomputed: Option[DataFrame], batch: DataFrame,
      idCol: String, textCol: String, w: Int): DataFrame =
    precomputed
      .map(_.join(broadcast(batch.select(col(idCol).as("id"))), Seq("id"),
        "left_semi"))
      .getOrElse(Dedup.shingleSets(batch, idCol, textCol, w))
      .localCheckpoint(true)

  /** Reclaim ONE corpus's artifacts: unregister every catalog table
    * located under its model root, stop its maintenance log, and delete
    * the root — for run-private fold corpora (the `*_append`, rebuild
    * and maintenance queries train base artifacts in a fresh dir per
    * run; without reclamation every run leaks a corpus under the models
    * root and its tables in the session catalog). Tables of other
    * corpora stay registered. */
  def drop(spark: SparkSession, sfDir: String): Unit = synchronized {
    val dir = new org.apache.hadoop.fs.Path(root(sfDir))
    val under = dir.toUri.getPath + "/"
    spark.catalog.listTables().collect()
      .filter(t => !t.isTemporary && t.name.startsWith("graft_model_"))
      .filter(t => tableLocation(spark, t.name).exists(_.startsWith(under)))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
    MaintenanceLog.disable(root(sfDir))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) { fs.delete(dir, true); () }
  }

  // ---- CCNet-style bigram LM (quality-scoring model) ---------------------

  def bigramLmPath(sfDir: String): String =
    s"${root(sfDir)}/bigram_lm"

  /** The persisted bigram language model for this corpus: the
    * `(prev, tok, c2)` Laplace count table fit on the train split
    * ([[graft.operators.TextOps.lmFit]]) — the quality-scoring model a
    * CCNet-style pipeline fits once and applies to every incoming
    * batch. Vocabulary²-bounded (small), so it persists as one file;
    * the scoring side broadcasts it and derives the prefix marginal +
    * vocabulary size on load. Deterministic — reload is bit-identical
    * to retrain, which `tx_lm_score_indexed`'s retraining oracle
    * proves per run. */
  def bigramLm(spark: SparkSession, sfDir: String): DataFrame =
    ensure(spark, bigramLmPath(sfDir))(
      TextOps.lmFit(TextOps.lmDocs(graft.Tables.documents(spark, sfDir))))

  // ---- BPE merge table + trained segmentation dictionary -----------------

  def bpeMergesPath(sfDir: String, rounds: Int): String =
    s"${root(sfDir)}/bpe_merges_r$rounds"
  def bpeSegsPath(sfDir: String, rounds: Int): String =
    s"${root(sfDir)}/bpe_segs_r$rounds"

  /** The persisted BPE artifacts for this corpus: the merge table
    * (`rounds` rows — the model a tokenizer ships) and the trained
    * word→segmentation dictionary. Trained once ([[TextOps.bpeTrain]])
    * and persisted on first use; the steady state is a
    * dictionary-sized read. The dictionary is written BUCKETED by
    * `word`, so the apply-to-corpus join reads the dictionary side
    * with zero exchange — only the exploded corpus words shuffle into
    * its layout (the lshIndex property, for the tokenizer).
    * Deterministic, so a reload is bit-identical to a retrain and the
    * training-replay oracle still hash-matches. */
  def bpe(spark: SparkSession, sfDir: String,
      rounds: Int = TextOps.BpeRounds): (DataFrame, DataFrame) = {
    val mp = bpeMergesPath(sfDir, rounds)
    def train =
      TextOps.bpeTrain(graft.Tables.documents(spark, sfDir), "text", rounds)
    val segsDf = ensure(spark, bpeSegsPath(sfDir, rounds)) {
      val (merges, segs) = train
      ensure(spark, mp)(merges)
      segs
    }
    // segs already existed but merges were wiped: retrain just the
    // merge table (same deterministic derivation)
    (ensure(spark, mp)(train._1), segsDf)
  }

  /** Drop only the session-level memo (test hook: forces the next
    * `subwordVocabSeq` to re-read the persisted files, proving the
    * load path — not the memo — carries the model). */
  def clearSessionCache(): Unit = vocabCache.clear()

  /** Drop every cached/persisted artifact for a corpus (test hook). */
  def reset(spark: SparkSession, sfDir: String): Unit = {
    vocabCache.clear()
    drop(spark, sfDir)
  }
}
