package graft.sources

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** Memoized BASE SCENES for the lifecycle gates — the shared
  * scene-builder that stops five oracle-gated maintenance queries from
  * each re-training the same base artifacts in-query on every run.
  *
  * The fold/compact/vacuum/rebuild gates all follow one shape: train
  * base artifacts over a deterministic md5 slice of the corpus into a
  * RUN-PRIVATE dir, mutate them (fold, compact, crash, rebuild), serve,
  * hash-match a from-scratch oracle. The mutation is the content under
  * test; the base train is oracle tax paid identically every run.
  * Because every artifact is a deterministic function of (corpus slice,
  * params) — the property all the reload≡retrain oracles already prove
  * — a base scene can be built ONCE per (corpus, key) under the models
  * base and FILE-COPIED into each gate's run-private dir: the copy is
  * bit-identical to the train, so every gate still hash-matches its own
  * oracle, and the copied artifacts are mutated exactly as before.
  *
  * Scene builds that APPEND (the IVF-PQ stale-state scene folds a batch
  * into its base) are not idempotent through the `ensure*` train-once
  * guards alone, so a scene is valid only under its `_SCENE_READY`
  * marker, created after the whole build: a crash mid-build leaves no
  * marker, and the next builder deletes the torn scene (both the scene
  * dir and its artifact root) and rebuilds fresh; a marked scene whose
  * artifact root is missing is torn too. Scenes live under
  * `<modelsBase>/v<ModelVersion>_scenes/`, so a ModelVersion bump
  * (changed derivation) invalidates them with the artifacts.
  *
  * This is a BENCH/TEST-HARNESS amortization, not an engine feature: a
  * production pipeline trains its base once and folds forever — the
  * gates replay the whole lifecycle per run so DuckDB can hash-match
  * it, and the scene cache prices that replay honestly (the mutation
  * under test is still paid in full, every run).
  */
object Scenes {

  /** Scene pseudo-corpus dir for (source corpus, key): an ABSOLUTE
    * path (its slices live inside it; its artifacts under
    * `Models.root(scene)`), stable across JVMs so the driver's
    * two-pass bench and repeated rounds reuse the on-disk scene. */
  def sceneDir(srcSfDir: String, key: String): String =
    s"${Models.modelsBase}/v${Models.ModelVersion}_scenes/" +
      s"${Models.corpusId(srcSfDir)}_$key"

  /** Ensure the scene exists (building via `build(sceneSfDir)` exactly
    * once per models-base lifetime), then copy its artifact root into
    * `destSfDir`'s artifact root — the gate mutates the copy, never
    * the scene.
    *
    * `params` is the gate's BUILD-PARAMS digest (slice bounds, k/b/w,
    * nList/m/ksub — whatever the build closure actually uses): it is
    * recorded in a `_SCENE_PARAMS` file at build time and compared on
    * every clone, so a future edit that changes a gate's slice or
    * hyperparameters but keeps the scene key REBUILDS instead of
    * serving the stale base scene. Without it the mismatch still
    * failed loud (the oracle hash gate), but at the wrong layer — a
    * red query instead of a rebuilt scene. */
  def cloneScene(spark: SparkSession, srcSfDir: String, key: String,
      destSfDir: String, params: String = "")
      (build: String => Unit): Unit = synchronized {
    val scene = sceneDir(srcSfDir, key)
    val conf = spark.sparkContext.hadoopConfiguration
    val sceneP = new Path(scene)
    val fs = sceneP.getFileSystem(conf)
    val marker = new Path(sceneP, "_SCENE_READY")
    val paramsFile = new Path(sceneP, "_SCENE_PARAMS")
    def recordedParams(): String =
      if (!fs.exists(paramsFile)) ""
      else {
        val in = fs.open(paramsFile)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
    // A marked scene is still torn when (a) its build params differ
    // (an edited gate: rebuild rather than letting the oracle hash gate
    // catch the divergence downstream), or (b) its artifact root is
    // missing: the root is named after the scene's ABSOLUTE path, so a
    // models base copied or moved elsewhere carries the marker along
    // while the root it names does not exist.
    if (fs.exists(marker) && (recordedParams() != params ||
        !fs.exists(new Path(Models.root(scene))))) {
      fs.delete(marker, false)
    }
    if (!fs.exists(marker)) {
      // torn prior attempt (or first build): start from nothing —
      // ensure* guards would skip half-built trains but cannot make an
      // interrupted append-bearing build idempotent
      fs.delete(sceneP, true)
      fs.delete(new Path(Models.root(scene)), true)
      fs.mkdirs(sceneP)
      build(scene)
      // compact the scene ONCE at build time: base trains write one
      // file per (task, bucket), so an uncompacted scene made every
      // clone copy (and every gate's post-fold compaction read)
      // hundreds of small files; the memoized scene starts minimal
      // and the gates' own folds provide the fragmentation their
      // asserts require
      Models.compactModelArtifacts(spark, scene)
      // the compaction cutovers leave pre-compaction generations
      // behind (keep-2 + the slow-reader age floor — correct for live
      // serving, dead weight in a frozen scene every clone would
      // copy): sweep each family down to its head, floor 0 — no
      // reader exists yet, the scene is unpublished until the marker
      val rootP = new Path(Models.root(scene))
      if (fs.exists(rootP)) {
        fs.listStatus(rootP).filter(_.isDirectory).foreach { fam =>
          Generations.head(spark, fam.getPath.toString).foreach {
            case (n, _) =>
              Generations.reclaimExcept(spark, fam.getPath.toString,
                n + Generations.Keep - 1, Set.empty, minAgeMs = 0L)
          }
        }
      }
      val pout = fs.create(paramsFile, true)
      try pout.write(params.getBytes("UTF-8"))
      finally pout.close()
      fs.create(marker, true).close()
    }
    val src = new Path(Models.root(scene))
    val dst = new Path(Models.root(destSfDir))
    // clear the destination first so the clone is IDEMPOTENT against a
    // reused or partially-populated dest: stale extra files (old
    // generations, markers) mixing with the cloned scene's would
    // corrupt the gate's served state — pre-r17 this was safe only
    // because every caller cloned into a fresh temp dir
    fs.delete(dst, true)
    fs.mkdirs(dst.getParent)
    if (fs.getScheme == "file") {
      // raw nio copy on local disk: FileUtil.copy pays Hadoop's
      // per-file stream/checksum overhead on ~100 small bucketed files
      // (measured 2.2 s for a few-MB scene — the clone was costing
      // more than the fold stages it unblocks)
      val from = java.nio.file.Paths.get(src.toUri.getPath)
      val to = java.nio.file.Paths.get(dst.toUri.getPath)
      val it = java.nio.file.Files.walk(from)
      try it.forEach { p =>
        val t = to.resolve(from.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) {
          java.nio.file.Files.createDirectories(t); ()
        } else {
          java.nio.file.Files.copy(p, t,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          ()
        }
      } finally it.close()
    } else {
      FileUtil.copy(fs, src, fs, dst, false, conf)
      ()
    }
    ()
  }
}
