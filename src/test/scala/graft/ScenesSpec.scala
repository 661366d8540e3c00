package graft

import org.apache.hadoop.fs.Path
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Generations, MaintenanceLog, Models, Scenes}

/** The scene cache's trust edges (round 17): the key now carries the
  * gate's BUILD PARAMS (`_SCENE_PARAMS`), so an edited gate rebuilds
  * instead of serving a stale base scene; and the clone clears its
  * destination first, so a reused dest cannot mix stale files into the
  * cloned artifact state; and a scene relocated with its models base is
  * rebuilt, not trusted on its marker alone. Plus the maintenance-log
  * negative-cache TTL:
  * cross-process durable enablement is observed within one re-check
  * window instead of never. */
class ScenesSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark.spark

  private val modelsTmp = java.nio.file.Files
    .createTempDirectory("graft-scenes-models").toString
  private var prevModelsDir: Option[String] = None

  override def beforeAll(): Unit = {
    prevModelsDir = sys.props.get("graft.models.dir")
    sys.props("graft.models.dir") = modelsTmp
  }
  override def afterAll(): Unit = {
    prevModelsDir match {
      case Some(v) => sys.props("graft.models.dir") = v
      case None => sys.props.remove("graft.models.dir")
    }
  }

  private def fs(p: String) = new Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A minimal deterministic "train": one committed plain generation
    * whose payload is the params string — enough to tell scenes built
    * under different params apart on the cloned side. */
  private def trainStub(sceneSfDir: String, payload: String): Unit = {
    val fam = s"${Models.root(sceneSfDir)}/stub_artifact"
    Generations.cutover(spark, fam) { g =>
      val f = fs(g)
      f.mkdirs(new Path(g))
      val out = f.create(new Path(g, "part-0.parquet"), true)
      out.write(payload.getBytes("UTF-8")); out.close()
      f.create(new Path(g, "_SUCCESS"), true).close()
    }
    ()
  }

  private def clonedPayload(destSfDir: String): String = {
    val fam = s"${Models.root(destSfDir)}/stub_artifact"
    val g = Models.servingDir(spark, fam)
    val in = fs(g).open(new Path(g, "part-0.parquet"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  test("a changed build-params digest under the SAME scene key " +
      "rebuilds the scene instead of serving the stale one; an " +
      "unchanged digest reuses it (build runs exactly once)") {
    var builds = 0
    def cloneWith(params: String): String = {
      val dest = java.nio.file.Files
        .createTempDirectory("graft-scenes-dest").toString
      Scenes.cloneScene(spark, "/tmp/scenes-src", "pkey", dest,
        params = params) { c =>
        builds += 1
        trainStub(c, params)
      }
      dest
    }
    val d1 = cloneWith("slice<aa")
    assert(builds == 1 && clonedPayload(d1) == "slice<aa")
    val d2 = cloneWith("slice<aa")
    assert(builds == 1, "an unchanged params digest must reuse the scene")
    assert(clonedPayload(d2) == "slice<aa")
    // the gate's slice is EDITED but the key stays: pre-r17 this
    // served the stale scene (caught only downstream at the oracle
    // hash gate); now it rebuilds at this layer
    val d3 = cloneWith("slice<bb")
    assert(builds == 2,
      "changed params under the same key must rebuild the scene")
    assert(clonedPayload(d3) == "slice<bb",
      "the clone must carry the REBUILT scene, not the stale one")
  }

  test("cloneScene clears a reused destination first: stale extra " +
      "files (an old generation, a stray marker) cannot mix with the " +
      "cloned scene's state") {
    val dest = java.nio.file.Files
      .createTempDirectory("graft-scenes-reuse").toString
    // the dest artifact root is already populated — e.g. a prior run's
    // artifacts at a HIGHER generation than the scene's
    val fam = s"${Models.root(dest)}/stub_artifact"
    val f = fs(fam)
    f.mkdirs(new Path(fam, "gen-9"))
    f.create(new Path(fam, "gen-9/_SUCCESS"), true).close()
    f.create(new Path(fam, "_commit_9"), true).close()
    f.mkdirs(new Path(s"${Models.root(dest)}/leftover_family"))
    Scenes.cloneScene(spark, "/tmp/scenes-src", "reusekey", dest,
      params = "p") { c => trainStub(c, "fresh") }
    assert(clonedPayload(dest) == "fresh",
      "the stale gen-9 head shadowed the cloned scene's generation")
    assert(!f.exists(new Path(s"${Models.root(dest)}/leftover_family")),
      "stale sibling families must not survive the clone")
  }

  test("a scene copied under a new models base is rebuilt: the " +
      "marker moves along, but the artifact root is named after the " +
      "scene's absolute path and does not") {
    var builds = 0
    def cloneMoved(): String = {
      val dest = java.nio.file.Files
        .createTempDirectory("graft-scenes-moved-dest").toString
      Scenes.cloneScene(spark, "/tmp/scenes-src", "movekey", dest,
        params = "m") { c =>
        builds += 1
        trainStub(c, "moved")
      }
      dest
    }
    cloneMoved()
    assert(builds == 1)
    // copy the whole models base, as a checkout copied with its
    // target/ carries it
    val moved = java.nio.file.Files
      .createTempDirectory("graft-scenes-moved-base").toString
    val from = java.nio.file.Paths.get(modelsTmp)
    val it = java.nio.file.Files.walk(from)
    try it.forEach { p =>
      val t = java.nio.file.Paths.get(moved).resolve(from.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) {
        java.nio.file.Files.createDirectories(t); ()
      } else { java.nio.file.Files.copy(p, t); () }
    } finally it.close()
    sys.props("graft.models.dir") = moved
    try {
      val dest = cloneMoved()
      assert(builds == 2, "the relocated scene must be rebuilt")
      assert(clonedPayload(dest) == "moved")
    } finally sys.props("graft.models.dir") = modelsTmp
  }

  test("maintenance-log negative cache expires: a root durably " +
      "enabled OUTSIDE this process (marker touched directly) is " +
      "observed after the re-check TTL instead of never") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-maintlog-ttl").toString + "/mroot"
    val key = "graft.maintlog.recheckMs"
    val prev = sys.props.get(key)
    sys.props(key) = "50"
    try {
      assert(!MaintenanceLog.enabled(spark, root)) // negative cached
      // another process durably enables: the marker appears on disk
      // without this JVM's enable() running
      val m = new Path(s"$root/${MaintenanceLog.Family}/_enabled")
      val f = fs(root)
      f.mkdirs(m.getParent)
      f.create(m, true).close()
      Thread.sleep(80L)
      assert(MaintenanceLog.enabled(spark, root),
        "pre-r17 the negative cache never expired: the ledger " +
          "silently stopped for the life of the JVM")
      // explicit in-process disable still pins the negative (no TTL)
      MaintenanceLog.disable(root)
      Thread.sleep(80L)
      assert(!MaintenanceLog.enabled(spark, root),
        "an explicit disable must not be overridden by the TTL re-check")
    } finally {
      prev match {
        case Some(v) => sys.props(key) = v
        case None => sys.props.remove(key)
      }
      MaintenanceLog.disable(root)
    }
  }
}
