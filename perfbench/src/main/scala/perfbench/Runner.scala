package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, ThreadFactory, TimeoutException}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One client request: `body` builds the result (and may run jobs while
  * doing so); the runner then materialises every column of a returned
  * DataFrame with `collect()`. `kind` is read, write or batch; `check`
  * names the result for the output checks ("" = not checked). */
final case class Op(name: String, kind: String, module: String,
    check: String, body: () => Option[DataFrame])

/** One timed execution. */
final case class Rec(op: Op, round: Int, traced: Boolean, ms: Double,
    ok: Boolean, err: String, rows: Int, hash: Int)

/** A workload: set-up, then whole rounds of operations. */
trait Workload {
  /** Set-up before the first timed operation (counted in setup_s). */
  def prepare(): Unit = ()
  /** The operations of round `r`, in order. */
  def round(r: Int): Seq[Op]
  /** Fewest rounds a run makes, whatever its length. */
  def minRounds: Int = 1
  /** Per check key: the DuckDB views (name -> parquet glob) and the
    * reference the result is compared with. */
  def checkSpec(key: String): Map[String, Any]
}

/** The benchmark's JVM side. Usage:
  * Runner <workload> <seed> <seconds> <trace 0|1> <inputs> <work> <out>
  *        <cpus> <op timeout s> */
object Runner {
  private val rssRe = "VmHWM:\\s+(\\d+) kB".r

  def main(args: Array[String]): Unit = {
    val Array(wname, seedS, secondsS, traceS, inputs, work, out, cpusS,
      timeoutS) = args
    val seed = seedS.toLong
    val traced = traceS == "1"
    val cpus = cpusS.toInt
    val jvmStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val heap = new HeapWatch
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$wname")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .withExtensions(new graft.sql.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val canary = ArrayBuffer(cpuCanary(spark))
    val w: Workload = wname match {
      case "meta_requests" => new MetaRequests(spark, inputs, seed)
      case "corpus_batch" => new CorpusBatch(spark, inputs, work, copies = 2)
    }
    val client = new Client(spark, timeoutS.toLong)
    w.prepare()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tracer = new Tracer(spark)
    val recs = ArrayBuffer.empty[Rec]
    val firstRows = scala.collection.mutable.LinkedHashMap
      .empty[String, (Array[Row], StructType)]
    val roundMs = ArrayBuffer.empty[(Int, Boolean, Double)]
    val stealPct = ArrayBuffer.empty[Double]
    var opId = 0
    val t0 = System.nanoTime()
    var r = 0
    // In a traced run the rounds alternate untraced / traced, starting
    // untraced, so the tracing overhead is measured against the same
    // stretch of the run and both sides get a warm round.
    def roundTraced(r: Int) = traced && r % 2 == 1
    val minRounds = if (traced) w.minRounds max 3 else w.minRounds
    while (r < minRounds ||
        (System.nanoTime() - t0) / 1e9 < secondsS.toDouble) {
      val tr = roundTraced(r)
      if (tr) tracer.attach()
      var sum = 0.0
      val cpu0 = hostCpuTicks()
      w.round(r).foreach { op =>
        opId += 1
        val t = new OpTrace(opId, op.name, op.module, op.kind)
        if (tr) tracer.begin(t)
        val filesBefore = if (tr && op.kind == "write") versionLogFiles()
          else Set.empty[String]
        val rec = client.run(op, t) match {
          case Right((ms, rows, schema)) =>
            val rs = rows.getOrElse(Array.empty[Row])
            if (op.check.nonEmpty && rows.isDefined &&
                !firstRows.contains(op.check))
              firstRows(op.check) = (rs, schema.get)
            t.outRows = rs.length
            Rec(op, r, tr, ms, ok = true, "", rs.length,
              rs.map(_.toString).sorted.toSeq.hashCode)
          case Left(err) =>
            Rec(op, r, tr, t.wallMs.toDouble, ok = false, err, 0, 0)
        }
        if (tr) {
          if (op.kind == "write")
            t.filesWritten = (versionLogFiles() -- filesBefore).size
          tracer.finish(t)
        }
        recs += rec
        sum += rec.ms
      }
      if (tr) tracer.detach()
      roundMs += ((r, tr, sum))
      val cpu1 = hostCpuTicks()
      stealPct += 100.0 * (cpu1._2 - cpu0._2) / (cpu1._1 - cpu0._1).max(1L)
      r += 1
    }
    canary += cpuCanary(spark)
    val peakRssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case rssRe(kb) => kb.toLong / 1024.0 }.getOrElse(-1.0)
    val peakHeapMb = heap.peakAfterGc / 1048576.0

    // ---- outputs for the checks (outside the timed region) ----
    val resDir = s"$out/results"
    new File(resDir).mkdirs()
    val checks = firstRows.keys.toSeq.zipWithIndex.map { case (key, i) =>
      val (rows, schema) = firstRows(key)
      val dir = s"$resDir/r$i"
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dir)
      key -> (w.checkSpec(key) + ("result" -> dir))
    }
    // an op whose executions disagree with its first result is wrong
    val firstHash = recs.filter(_.ok).groupBy(_.op.check)
      .collect { case (k, rs) if k.nonEmpty => k -> rs.head.hash }
    val unstable = recs.filter(x => x.ok && x.op.check.nonEmpty &&
      x.hash != firstHash(x.op.check))

    val M = scala.collection.immutable.ListMap
    var doc = M[String, Any](
      "workload" -> wname, "seed" -> seed, "cpus" -> cpus,
      "setup_s" -> setupS, "peak_rss_mb" -> peakRssMb,
      "peak_heap_mb" -> peakHeapMb,
      "canary_s" -> canary.toSeq, "steal_pct" -> stealPct.toSeq,
      "rounds" -> roundMs.toSeq.map { case (i, tr, ms) =>
        M("round" -> i, "traced" -> tr, "ms" -> ms) },
      "ops" -> recs.toSeq.map { x =>
        M("name" -> x.op.name, "kind" -> x.op.kind,
          "module" -> x.op.module, "check" -> x.op.check,
          "round" -> x.round, "traced" -> x.traced, "ms" -> x.ms,
          "ok" -> x.ok, "err" -> x.err, "rows" -> x.rows) },
      "unstable" -> unstable.toSeq.map(x =>
        s"${x.op.name} (round ${x.round}): result differs from its " +
          "first execution"),
      "checks" -> checks.map { case (k, spec) => M("key" -> k) ++ spec })
    if (traced) {
      val ops = tracer.done.toSeq
      val sp = Tracer.spans(ops)
      writeSpans(s"$out/trace_spans.jsonl", sp)
      doc = doc ++ M(
        "layers" -> Tracer.layerTimes(sp).toSeq.sortBy(-_._2._2).map {
          case (l, (total, self, n)) => M("layer" -> l, "total_ms" -> total,
            "self_ms" -> self, "spans" -> n)
        },
        "modules" -> PerLayer.modules(ops, roundMs.count(_._2)),
        "per_layer" -> PerLayer.metrics(ops, cpus, roundMs.toSeq))
    }
    Files.write(Paths.get(s"$out/run.json"),
      Json.lit(doc).getBytes(UTF_8))
    client.close()
    spark.stop()
    System.exit(0)
  }

  /** A fixed pure-CPU Spark job; its time shows host throttling. */
  def cpuCanary(spark: SparkSession): Double = {
    val n0 = System.nanoTime()
    spark.range(20000000L).selectExpr("sum(id * 3 % 7)").collect()
    (System.nanoTime() - n0) / 1e9
  }

  /** (all, steal) CPU ticks of the host since boot: the share of time
    * the hypervisor gave other guests shows how contended a round ran. */
  def hostCpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }

  /** The files of the versioned stores' commit logs: the registry's
    * versioned writes keep their rows in memory and their logs in
    * `graft_vlog*` directories under java.io.tmpdir. */
  def versionLogFiles(): Set[String] = {
    val b = Set.newBuilder[String]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else b += f.getPath
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles())
      .foreach(_.filter(_.getName.startsWith("graft_vlog")).foreach(walk))
    b.result()
  }

  private def writeSpans(path: String, sp: Seq[Tracer.Span]): Unit = {
    val lines = sp.map { s =>
      Json.lit(scala.collection.immutable.ListMap("id" -> s.id,
        "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end))
    }
    Files.write(Paths.get(path), lines.asJava, UTF_8)
  }
}

/** The largest heap occupancy left after any collection since it was
  * made: the live data plus what the collector has not yet reclaimed. */
final class HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile var peakAfterGc = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(
      (n: Notification, _: AnyRef) =>
        if (n.getType ==
            GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val used = GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
            .getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peakAfterGc = peakAfterGc max used }
        }, null, null)
    case _ =>
  }
}

/** The closed-loop client: one operation at a time, on its own thread,
  * under a timeout. A hung operation has its jobs cancelled and its
  * worker abandoned, and fails with its name in the message. */
final class Client(spark: SparkSession, timeoutS: Long) {
  private var exec = newExecutor()
  private var n = 0

  /** Runs `op`, stamping build / end times on `t`: Right((ms, rows,
    * schema)), rows absent for an operation that returns no DataFrame,
    * or Left(error). */
  def run(op: Op, t: OpTrace): Either[String,
      (Double, Option[Array[Row]], Option[StructType])] = {
    n += 1
    val gid = s"perfbench-$n"
    val f = Future {
      spark.sparkContext.setJobGroup(gid, op.name, interruptOnCancel = true)
      t.start = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val df = op.body()
      t.buildEnd = System.currentTimeMillis()
      val rows = df.map(_.collect())
      val ms = (System.nanoTime() - n0) / 1e6
      t.end = System.currentTimeMillis()
      (ms, rows, df.map(_.schema))
    }(exec)
    try Right(Await.result(f, timeoutS.seconds))
    catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelJobGroup(gid)
        exec.shutdownNow()
        exec = newExecutor()
        Left(s"timeout: ${op.name} did not finish in ${timeoutS}s")
      case e: Throwable =>
        Left(s"${op.name}: ${Option(e.getCause).getOrElse(e).toString.take(300)}")
    } finally {
      if (t.start == 0L) t.start = System.currentTimeMillis()
      if (t.end == 0L) t.end = System.currentTimeMillis()
      if (t.buildEnd == 0L) t.buildEnd = t.end
    }
  }

  def close(): Unit = exec.shutdownNow()

  private def newExecutor() = ExecutionContext.fromExecutorService(
    Executors.newSingleThreadExecutor(new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
      }
    }))
}

/** Minimal JSON rendering of nested Maps / Seqs / scalars. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def lit(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(lit).mkString("[", ",", "]")
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + lit(x) }
      .mkString("{", ",", "}")
    case other => str(other.toString)
  }
}
