package graft.measure

import java.util.concurrent.TimeoutException

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Measure, Tables}
import graft.operators.{Dedup, Similarity, Skew}

/** `Measure skew`: what the hot-bucket tiling guard
  * ([[graft.operators.Skew.selfJoinRows]]) buys on a planted viral
  * cluster. Each banding path runs guarded and unguarded
  * (`hotThreshold = Long.MaxValue`) on the same data, recording wall
  * time, task count and the LONGEST SINGLE TASK — the metric that
  * decides whether a 1000-task stage on a real cluster finishes with
  * its stragglers or dies on one quadratic task. Outputs must agree on
  * row count and an order-independent checksum.
  *
  *  - `primitive`: the Skew kernel on one 50k-row hot bucket (2.5e9
  *    candidate pairs) amid 100k cold rows; both modes finish.
  *  - `primitive_xl`: one 150k-row hot bucket (11.2e9 pairs): the
  *    unguarded join is one ~11e9-pair task (on a 1000-executor cluster
  *    that straggler is the whole job), the guarded tiling spreads the
  *    pairs over tiles·(tiles+1)/2 bounded tasks.
  *  - `jaccard_viral` / `minhash_viral`: sf0.1 documents plus 3000
  *    near-identical template docs (J≈0.79 pairwise), through
  *    [[Dedup.jaccardPairs]] / [[Dedup.minhashDedup]].
  *  - `ann_viral`: sf0.1 embeddings plus 3000 near-identical vectors
  *    (identical SRP signatures) through [[Similarity.annLsh]].
  *
  * One JSON line per (scenario, mode) on stdout; the set goes to
  * `BENCH_skew.json`. */
object SkewStress {

  final case class Run(scenario: String, mode: String, seconds: Double,
      rows: Long, checksum: Long, tasks: Int, maxTaskSec: Double,
      timedOut: Boolean) {
    def json: Measure.Js = Measure.obj("scenario" -> scenario,
      "mode" -> mode, "seconds" -> seconds, "rows" -> rows,
      "checksum" -> checksum, "tasks" -> tasks,
      "max_task_sec" -> maxTaskSec, "timed_out" -> timedOut)
  }

  /** Count + checksum of `df` under a per-run timeout (cancelled via
    * its job group). The checksum is an order-independent sum of
    * per-row hashes mod a prime — overflow-safe under ANSI up to ~9e9
    * rows. */
  private def timed(spark: SparkSession, scenario: String, mode: String,
      checksumCols: Seq[String], timeoutSec: Int)(df: => DataFrame): Run = {
    val sc = spark.sparkContext
    val group = s"skewbench-$scenario-$mode"
    implicit val ec: ExecutionContext = ExecutionContext.global
    var res = (-1L, 0L)
    var timedOut = false
    val (secs, rec) = Measure.recorded(spark)(Measure.seconds {
      val run = Future {
        sc.setJobGroup(group, group, interruptOnCancel = true)
        val r = df.agg(count(lit(1)).as("c"),
            sum(pmod(xxhash64(checksumCols.map(col): _*),
              lit(1000000007L))).as("ck"))
          .collect()(0)
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      try res = Await.result(run, timeoutSec.seconds)
      catch {
        case _: TimeoutException =>
          timedOut = true
          sc.cancelJobGroup(group)
          Try(Await.ready(run, 30.seconds))
        case NonFatal(_) => ()
      }
    })
    Run(scenario, mode, Measure.r3(secs), res._1, res._2, rec.tasks.get,
      rec.maxTaskMs.get / 1000.0, timedOut)
  }

  def run(spark: SparkSession, sfDir: String): Unit = {
    val timeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_SKEW_TIMEOUT", "300").toInt
    val runs = Seq.newBuilder[Run]
    def duel(scenario: String, checksumCols: Seq[String], guardedHt: Long)
        (mk: Long => DataFrame): Unit = {
      // guarded first (it must always complete), then unguarded
      val g = timed(spark, scenario, "guarded", checksumCols, timeoutSec)(
        mk(guardedHt))
      println(g.json)
      val u = timed(spark, scenario, "unguarded", checksumCols, timeoutSec)(
        mk(Long.MaxValue))
      println(u.json)
      val equal = !g.timedOut && !u.timedOut &&
        g.rows == u.rows && g.checksum == u.checksum
      println(Measure.obj("scenario" -> scenario, "equal" -> equal))
      require(!g.timedOut, s"$scenario: the GUARDED path timed out")
      require(u.timedOut || equal,
        s"$scenario: guarded and unguarded outputs differ")
      runs += g += u
    }

    def blockedTable(hotM: Long, coldN: Long) =
      spark.range(hotM + coldN).select(
        when(col("id") < hotM, lit("viral"))
          .otherwise(concat(lit("b"), (col("id") / 5).cast("string")))
          .as("bucket"),
        col("id").as("doc"))
        .localCheckpoint(true)
    val blocked = blockedTable(50000L, 100000L)
    duel("primitive", Seq("i", "j"), 10000L) { ht =>
      Skew.selfJoinPairs(blocked, Seq("bucket"), "doc", hotThreshold = ht)
    }
    // 16 tiles: (m/16)² pairs per tile task
    val blockedXl = blockedTable(150000L, 100000L)
    duel("primitive_xl", Seq("i", "j"), 10000L) { ht =>
      Skew.selfJoinPairs(blockedXl, Seq("bucket"), "doc",
        hotThreshold = ht, tiles = 16)
    }

    val template = (1 to 40).map(i => s"tmpl$i").mkString(" ")
    val viral = spark.range(3000L).select(
      (col("id") + 1000000L).as("doc_id"),
      concat(lit(template) +: Seq("u", "v", "w", "x", "y").flatMap(p =>
        Seq(lit(s" $p"), col("id").cast("string"))): _*).as("text"))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .unionAll(viral)
      .localCheckpoint(true)
    duel("jaccard_viral", Seq("i", "j"), 2000L) { ht =>
      Dedup.jaccardPairs(docs, "doc_id", "text", 0.5, hotThreshold = ht)
    }
    duel("minhash_viral", Seq("i", "j"), 1000L) { ht =>
      Dedup.minhashDedup(docs, "doc_id", "text", 0.5, hotThreshold = ht)
    }

    val dim = 64
    val baseVec = (0 until dim).map(d => ((d * 37 % 101) - 50) / 100.0f)
    val viralEmb = spark.range(3000L).select(
      (col("id") + 1000000L).as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d =>
        element_at(typedLit(baseVec), d + 1) +
          (col("id") % 17L).cast("float") / lit(100000.0f)).as("embedding"))
    val embs = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      .unionAll(viralEmb)
      .localCheckpoint(true)
    duel("ann_viral", Seq("qid", "nid"), 2000L) { ht =>
      Similarity.annLsh(embs, "vec_id", "embedding", 10, dim = dim,
        hotThreshold = ht)
    }

    val all = runs.result()
    Measure.write("BENCH_skew.json", all.map(_.json).mkString("[\n", ",\n", "\n]"))
  }
}
