package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.concurrent.TrieMap
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** The measurement main (not one of the contract surfaces `Smoke`,
  * `Verify` and `Bench`). Usage:
  *
  * {{{
  *   sbt "runMain graft.Measure scale <copies>"     decade scale ratios -> BENCH_sf1.json / BENCH_sf10.json
  *   sbt "runMain graft.Measure audit"              layout/plan scale evidence -> SCALE_METRICS.json
  *   sbt "runMain graft.Measure skew"               guarded vs unguarded skew stress -> BENCH_skew.json
  *   sbt "runMain graft.Measure anchor <dir> <q1,q2,...> [passes] [tpch=N] [objects=N]"
  *   sbt "runMain graft.Measure plan <outDir> <name...>"
  *   sbt "runMain graft.Measure time <repeats> <name...>"
  *   sbt "runMain graft.Measure jobs <name...>"
  * }}}
  *
  * Every subcommand measures under one session ([[session]], the
  * [[graft.sql.GraftExtensions.localSession]] recipe that [[Bench]] also
  * runs on), next to one CPU canary, with one min-of-passes timer
  * ([[timePasses]]) that materialises every column, one job/stage
  * recorder ([[Recorder]]) and one JSON writer ([[obj]], [[write]]).
  *
  * Environment: `SPARK_GRAFT_CPUS` (default 32), `SPARK_GRAFT_SF_DIR`
  * (default: the sf0.1 test data, as for [[Bench]]), `SPARK_GRAFT_EXTRA_CONF`
  * (`k=v;k=v` session overrides, e.g. `spark.sql.adaptive.enabled=false`)
  * and, for `skew`, `SPARK_GRAFT_SKEW_TIMEOUT` (seconds per run,
  * default 300).
  */
object Measure {

  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The measurement session: the shared local recipe with this main's
    * cpus default and the `SPARK_GRAFT_EXTRA_CONF` overrides applied. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val extra = sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "")
      .split(';').filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }
    graft.sql.GraftExtensions.localSession(cpus, extra.toSeq: _*)
  }

  def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Host-throttle canary: a fixed pure-CPU job (~0.2 s unthrottled,
    * 20x slower inside a throttle window — measured 4.0-4.6 s).
    * Recorded next to every measurement, it makes host state visible
    * in the artifact: a pass whose canary is >3x the best ran on a
    * different machine, effectively. */
  def canary(spark: SparkSession): Double = seconds {
    spark.range(200000000L).selectExpr("sum(id * 3 % 7)").collect(); ()
  }

  /** Computes every column of `df` and discards the rows. `count()`
    * is not used: Catalyst prunes every computed column out of a count
    * plan, so a digest or fingerprint kernel would never run. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Per-query samples of [[timePasses]]; a query that threw reports
    * -1 from [[min]], never its (fast) time to failure. */
  final case class Timings(samples: Seq[(String, Seq[Double])],
      canaries: Seq[Double], errors: Map[String, String]) {
    private val byName = samples.toMap
    def min(name: String): Double =
      if (errors.contains(name)) -1.0 else byName(name).min
  }

  /** `passes` INTERLEAVED passes over `names`, each query built by
    * `build` and materialised, with a canary before every pass and
    * after the last. The first pass pays one-time JIT/codegen that a
    * long-lived cluster amortizes away, and interleaving means a
    * host-throttling window can cover at most one of a query's samples,
    * so the min still reflects steady-state latency. A failure is kept
    * (first message per query) rather than rethrown: one broken query
    * must not void a whole run. */
  def timePasses(spark: SparkSession, names: Seq[String], passes: Int)
      (build: String => DataFrame): Timings = {
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val canaries = Seq.newBuilder[Double]
    val runs = (1 to passes).map { _ =>
      canaries += canary(spark)
      names.map { n =>
        seconds {
          try materialize(build(n))
          catch { case e: Throwable =>
            errors.getOrElseUpdate(n, e.toString.take(200)); ()
          }
        }
      }
    }
    canaries += canary(spark)
    Timings(names.zipWithIndex.map { case (n, i) => n -> runs.map(_(i)) },
      canaries.result(), ListMap.from(errors))
  }

  /** Jobs (description, wall ms) and stage/task totals delivered while
    * attached: task count and longest task, shuffle-write and input
    * bytes, and the number of stages that wrote shuffle. */
  final class Recorder(spark: SparkSession) extends SparkListener {
    val jobs = TrieMap.empty[Int, (String, Long, Long)]
    val tasks = new AtomicInteger
    val maxTaskMs = new AtomicLong
    val shuffleWriteBytes = new AtomicLong
    val shuffleStages = new AtomicLong
    val inputBytes = new AtomicLong
    private val events = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val desc = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs(j.jobId) = (desc, j.time, -1L); events.incrementAndGet(); ()
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      jobs.get(j.jobId).foreach { case (d, t0, _) =>
        jobs(j.jobId) = (d, t0, j.time - t0)
      }
      events.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      maxTaskMs.accumulateAndGet(e.taskInfo.duration, math.max)
      events.incrementAndGet(); ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      val w = m.shuffleWriteMetrics.bytesWritten
      if (w > 0) { shuffleWriteBytes.addAndGet(w); shuffleStages.incrementAndGet() }
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      events.incrementAndGet(); ()
    }
    spark.sparkContext.addSparkListener(this)

    /** Detach once the async listener bus has delivered. */
    def stop(): this.type = {
      settle(events.get())
      spark.sparkContext.removeSparkListener(this)
      this
    }
  }

  def recorded[T](spark: SparkSession)(f: => T): (T, Recorder) = {
    val r = new Recorder(spark)
    val out = try f finally r.stop()
    (out, r)
  }

  /** Poll until `probe` stops changing: the listener buses are async,
    * and one fixed sleep either wastes time or drops late events. */
  private def settle(probe: => Long): Unit = {
    var last = -1L; var stable = 0
    while (stable < 2) {
      Thread.sleep(100)
      val c = probe
      if (c == last) stable += 1 else { stable = 0; last = c }
    }
  }

  /** Every QueryExecution an action ran while `f` ran — including the
    * ones a builder runs (checkpoints go through `withAction`) before
    * it returns its DataFrame, whose plans the returned frame hides
    * behind a LogicalRDD scan. */
  def executions[T](spark: SparkSession)(f: => T)
      : (T, Seq[QueryExecution]) = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        seen.add(qe); ()
      }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val out = try { val o = f; settle(seen.size.toLong); o }
      finally spark.listenerManager.unregister(l)
    (out, seen.asScala.toSeq)
  }

  /** An already-rendered JSON value, for nesting. */
  final case class Js(text: String) { override def toString: String = text }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def value(v: Any): String = v match {
    case s: String => jstr(s)
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  /** A JSON object with its keys in the given order. */
  def obj(kvs: (String, Any)*): Js =
    Js(kvs.map { case (k, v) => s"${jstr(k)}:${value(v)}" }
      .mkString("{", ",", "}"))

  def r3(x: Double): Double = math.round(x * 1000) / 1000.0

  /** Write an artifact next to the working directory and say where on
    * stderr (stdout carries the result line). */
  def write(name: String, content: String): Unit = {
    val p = java.nio.file.Paths.get(name).toAbsolutePath
    java.nio.file.Files.write(p, (content + "\n").getBytes("UTF-8"))
    System.err.println(s"wrote $p")
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    try args.toList match {
      case "scale" :: copies :: Nil =>
        graft.measure.ScaleRatio.run(spark, sfDir, copies.toInt)
      case "audit" :: Nil => graft.measure.ScaleAudit.run(spark, sfDir)
      case "skew" :: Nil => graft.measure.SkewStress.run(spark, sfDir)
      case "anchor" :: dir :: names :: trailing => anchor(spark, dir,
        names.split(',').toSeq, trailing)
      case "plan" :: outDir :: names => plans(spark, outDir, names)
      case "time" :: repeats :: names =>
        val t = timePasses(spark, names, repeats.toInt)(queryAt(sfDir))
        println(obj(("canary" -> t.canaries.map(r3)) +: t.samples.map {
          case (n, ts) => n -> obj("min" -> r3(t.min(n)), "all" -> ts.map(r3))
        }: _*))
      case "jobs" :: names if names.nonEmpty => names.foreach(jobs(spark, _))
      case other =>
        System.err.println("usage: scale <copies> | audit | skew | " +
          "anchor <dir> <names> [passes] [tpch=N] [objects=N] | " +
          s"plan <outDir> <names...> | time <repeats> <names...> | " +
          s"jobs <names...>; got: $other")
        sys.exit(2)
    } finally spark.stop()
  }

  private lazy val queries = SparkEntry.queries

  def queryAt(dir: String)(name: String): DataFrame =
    queries(name)(SparkSession.active, dir)

  /** Spark half of the BASELINE.md external-anchor table
    * (`tools/anchor_duckdb.py` is the DuckDB half): min-of-passes
    * seconds per named query over `dir`. Trailing args in any order:
    * a bare number is the pass count (default 3); `tpch=N` / `objects=N`
    * first synthesize the N-shard TPC-H tables / listing-honest
    * documents from `SPARK_GRAFT_SF_DIR` into `dir`. */
  private def anchor(spark: SparkSession, dir: String, names: Seq[String],
      trailing: List[String]): Unit = {
    def shards(flag: String) = trailing.find(_.startsWith(flag))
      .map(_.stripPrefix(flag).toInt)
    shards("tpch=").foreach(SfSynth.ensureTpch(spark, sfDir, _, dir))
    shards("objects=").foreach(SfSynth.ensureObjects(spark, sfDir, _, dir))
    val passes = trailing.find(_.forall(_.isDigit)).map(_.toInt).getOrElse(3)
    val t = timePasses(spark, names, passes)(queryAt(dir))
    require(t.errors.isEmpty, s"anchor queries failed: ${t.errors}")
    println(obj(Seq("metric" -> "anchor_spark", "dir" -> dir,
      "canary" -> t.canaries.map(r3)) ++ names.map(n => n -> r3(t.min(n))): _*))
  }

  /** Formatted plan of each query's returned DataFrame, followed by
    * every plan it executed while being built and run. */
  private def plans(spark: SparkSession, outDir: String,
      names: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val (finalTxt, seen) = executions(spark) {
        val df = queryAt(sfDir)(n)
        val txt = df.queryExecution.explainString(FormattedMode)
        materialize(df)
        txt
      }
      val sb = new StringBuilder(s"== $n : returned DataFrame plan ==\n")
      sb.append(finalTxt).append("\n")
      seen.zipWithIndex.foreach { case (qe, i) =>
        sb.append(s"\n== intermediate QueryExecution #$i ==\n")
        sb.append(try qe.explainString(FormattedMode)
          catch { case e: Throwable => s"<explain failed: $e>" })
        sb.append("\n")
      }
      write(s"$outDir/$n.txt", sb.toString)
    }
  }

  /** Per-job seconds of one warm run of `name` (after one run for
    * JIT/codegen), to locate which job of a multi-job query carries
    * the cost. */
  private def jobs(spark: SparkSession, name: String): Unit = {
    materialize(queryAt(sfDir)(name))
    var total = 0.0
    val (_, rec) = recorded(spark) {
      total = seconds(materialize(queryAt(sfDir)(name)))
    }
    val items = rec.jobs.toSeq.sortBy(_._1)
    val busy = items.map(_._2._3 / 1e3).sum
    println(f"[jobs] $name total=$total%.3f s, ${items.size} jobs")
    items.foreach { case (id, (desc, _, ms)) =>
      println(f"  job $id%4d  ${ms / 1e3}%7.3f s  $desc")
    }
    println(f"[jobs] sum of jobs = $busy%.3f s " +
      f"(gap = ${total - busy}%.3f s driver/planning)")
  }
}
