package graft

import org.scalatest.funsuite.AnyFunSuite

/** REGISTRY.md is GENERATED (`sbt "runMain graft.Registry"`) from
  * `SparkEntry.registry` alone — but nothing failed when it drifted
  * (r17 verdict item 6: a new query silently left the committed index
  * stale). This guard re-renders the registry in-process and diffs it
  * against the committed file, so a drift is a RED TEST naming the
  * first divergent line, not a stale doc a reader trips over. The
  * render reads no bench artifact, so a bench run that rewrites
  * BENCH.json cannot turn it red. */
class RegistryFreshnessSpec extends AnyFunSuite {

  test("REGISTRY.md equals a fresh Registry.render() — regenerate " +
      "with sbt \"runMain graft.Registry\" after adding queries or " +
      "re-folding bench artifacts") {
    val f = java.nio.file.Paths.get("REGISTRY.md")
    assert(java.nio.file.Files.exists(f),
      "REGISTRY.md is missing — run sbt \"runMain graft.Registry\"")
    val have = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    val want = Registry.render()
    if (have != want) {
      val hl = have.linesIterator.toVector
      val wl = want.linesIterator.toVector
      val i = hl.zip(wl).indexWhere { case (a, b) => a != b }
      val at = if (i >= 0) i else math.min(hl.size, wl.size)
      fail(s"REGISTRY.md is stale (first divergence at line ${at + 1}:" +
        s"\n  committed: ${hl.lift(at).getOrElse("<eof>")}" +
        s"\n  fresh:     ${wl.lift(at).getOrElse("<eof>")}\n" +
        "— regenerate with sbt \"runMain graft.Registry\" and commit)")
    }
  }
}
