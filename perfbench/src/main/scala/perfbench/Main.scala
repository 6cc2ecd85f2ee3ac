package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The benchmark's JVM side: runs one workload on `local[cores]` against
  * inputs `run.py` generated, and writes every op's latency, check
  * outcome and (in a traced run) layer figures to a JSON file that
  * `run.py` turns into metrics.
  *
  * Args: workload seed seconds trace(0|1) cores inputsDir workDir outFile
  */
object Main {

  /** One op: `kind` is "op" for a timed-phase op, "etl" for a price_etl
    * op the dashboard runs in set-up to produce its view's data. */
  final case class OpRecord(kind: String, client: Int, id: Long,
                            startS: Double, wallS: Double,
                            error: Option[String], traced: Boolean,
                            layers: Map[String, Double])

  trait Workload {
    def clients: Int
    def warmups: Int
    def setupLayers: Map[String, Double] = Map.empty
    /** One op by `client`; returns its per-op figures (rows ingested,
      * bytes written, which dashboard action it was). */
    def op(client: Int, id: Long): Map[String, Double]
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, coresS, inputsS, workS, outS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    val inputs = Paths.get(inputsS)
    val work = Paths.get(workS)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val tracer = new Tracer
    val counters = new SparkCounters
    if (trace) counters.register(spark)
    val ids = new AtomicLong(0)
    val sc = spark.sparkContext

    /** Run one op under its job tag and (when traced) its spans. */
    def runOp(kind: String, client: Int, phase0: Long, traced: Boolean)(
        body: Long => Map[String, Double]): OpRecord = {
      val id = ids.incrementAndGet()
      val tag = SparkCounters.OpTag + id
      if (traced) sc.addJobTag(tag)
      val t0 = System.nanoTime()
      val (err, counts) = tracer.inOp(id, traced) {
        try (None, body(id))
        catch { case e: Exception =>
          (Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)),
            Map.empty[String, Double])
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) sc.removeJobTag(tag)
      val pinned =
        if (traced) sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
        else 0.0
      OpRecord(kind, client, id, (t0 - phase0) / 1e9, wall, err, traced,
        counts ++ Map("op.wall_s" -> wall, "spark.pinned_bytes_after" -> pinned))
    }

    def etlOp(truth: PriceTruth, out: Path)(id: Long): Map[String, Double] =
      PriceEtl.run(spark, truth, out, tracer)

    val setupOps = mutable.ArrayBuffer[OpRecord]()
    val w: Workload = workload match {
      case "price_etl" =>
        val truth = new PriceTruth(inputs)
        new Workload {
          val clients = 1
          val warmups = 1
          def op(client: Int, id: Long) = {
            val out = work.resolve(s"out-$id")
            try etlOp(truth, out)(id) finally deleteTree(out)
          }
        }
      case "dashboard" =>
        // the view's data is the output of one price_etl op, run here in
        // set-up (traced in a traced run: it gives the ingest, pipeline
        // and sinks layer figures)
        val truth = new PriceTruth(inputs)
        val etlOut = work.resolve("etl")
        val r = runOp("etl", 0, System.nanoTime(), trace)(etlOp(truth, etlOut))
        r.error.foreach(e => sys.error(s"set-up price_etl op failed: $e"))
        setupOps += r
        val d = new Dashboard(spark, truth, etlOut, work, tracer)
        val cs = (0 until 2).map(c => d.client(seed, c))
        new Workload {
          val clients = 2
          val warmups = 6
          override def setupLayers = Map("query.view_cache_s" -> d.viewCacheS)
          def op(client: Int, id: Long) = d.interact(cs(client), id)
        }
      case "analytics" =>
        val a = new Analytics(spark, inputs, work, tracer)
        new Workload {
          val clients = 1
          val warmups = 1
          def op(client: Int, id: Long) = a.pass()
        }
      case other => sys.error(s"unknown workload $other")
    }

    val records = new java.util.concurrent.ConcurrentLinkedQueue[OpRecord]()

    /** Closed loop: each client sends its next op when the last ends. */
    def loop(until: Int => Boolean, traced: Int => Boolean): Double = {
      val phase0 = System.nanoTime()
      val threads = (0 until w.clients).map { c =>
        new Thread(() => {
          var n = 0
          while (!until(n)) {
            records.add(runOp("op", c, phase0, traced(n))(w.op(c, _)))
            n += 1
          }
        }, s"client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      (System.nanoTime() - phase0) / 1e9
    }

    loop(n => n >= w.warmups, _ => false)
    records.clear()
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val firstTimedEpochMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // a traced run alternates traced and untraced ops, so the overhead
    // ratio compares ops from the same process and host window (and, on
    // the dashboard, the same actions: see Dashboard.client)
    val minOps = if (trace) 2 else 1
    val timedS = loop(n => n >= minOps && System.nanoTime() >= deadline,
      n => trace && n % 2 == 0)

    val ops = (setupOps ++ records.asScala).sortBy(_.id).toSeq
    val finalOps = if (!trace) ops else {
      counters.drain()
      if (counters.unpairedPlans.get > 0)
        System.err.println(s"[perfbench] ${counters.unpairedPlans.get} " +
          "planning records could not be paired with their execution")
      ops.map(r => if (!r.traced) r else r.copy(layers = r.layers ++ layers(
        r, tracer.ofOp(r.id), counters.of(r.id), cores)))
    }
    if (trace) writeSpans(work.resolve("spans.json"), tracer)

    val json =
      ("workload" -> workload) ~ ("seed" -> seed) ~ ("cores" -> cores) ~
        ("trace" -> trace) ~ ("session_s" -> sessionS) ~
        ("jvm_setup_s" -> setupS) ~
        ("first_timed_epoch_ms" -> firstTimedEpochMs) ~
        ("timed_s" -> timedS) ~ ("peak_rss_mb" -> peakRssMb) ~
        ("setup_layers" -> w.setupLayers) ~
        ("ops" -> finalOps.map { r =>
          ("kind" -> r.kind) ~ ("client" -> r.client) ~ ("id" -> r.id) ~
            ("start_s" -> r.startS) ~ ("wall_s" -> r.wallS) ~
            ("error" -> r.error) ~ ("traced" -> r.traced) ~
            ("layers" -> r.layers)
        })
    Files.writeString(Paths.get(outS), compact(render(json)))
    spark.stop()
  }

  /** Per-op layer figures from the op's spans and Spark counts. */
  def layers(r: OpRecord, spans: Seq[Span], s: SparkCounters#Stats,
             cores: Int): Map[String, Double] = {
    val bySpan = spans.groupBy(_.name).map { case (name, xs) =>
      metricOfSpan(name) -> xs.map(_.seconds).sum
    }
    val topLevel = spans.filter(_.parent == 0).map(_.seconds).sum
    val jobWallS = SparkCounters.unionMs(s.jobIntervals.toSeq) / 1e3
    val gateJobs = s.gateJobs.map { case (g, n) => s"gate.$g.jobs" -> n.toDouble }
    bySpan ++ gateJobs ++ Map(
      "op.uncovered_s" -> (r.wallS - topLevel),
      "trace.forced_spans" -> spans.count(_.forced).toDouble,
      "spark.plan_s" -> s.planMs / 1e3,
      "spark.jobs" -> s.jobs.toDouble,
      "spark.stages" -> s.stages.toDouble,
      "spark.tasks" -> s.tasks.toDouble,
      "spark.job_wall_s" -> jobWallS,
      "spark.driver_s" -> (r.wallS - jobWallS),
      "spark.task_run_s" -> s.taskRunMs / 1e3,
      "spark.task_cpu_s" -> s.taskCpuNs / 1e9,
      "spark.core_util" ->
        (if (jobWallS > 0) s.taskRunMs / 1e3 / (jobWallS * cores) else 0.0),
      "spark.shuffle_write_bytes" -> s.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> s.shuffleRead.toDouble,
      "spark.fetch_wait_s" -> s.fetchWaitMs / 1e3,
      "spark.spill_bytes" -> s.spill.toDouble,
      "spark.result_bytes" -> s.result.toDouble)
  }

  /** "ingest" -> "ingest.s", "pipeline.kpi" -> "pipeline.kpi_s",
    * "gate.x" -> "gate.x.s" */
  def metricOfSpan(name: String): String =
    if (name.startsWith("gate.") || !name.contains(".")) s"$name.s" else s"${name}_s"

  private def writeSpans(p: Path, tr: Tracer): Unit = {
    val js = tr.spans.asScala.toSeq.sortBy(s => (s.op, s.id)).map { s =>
      ("op" -> s.op) ~ ("id" -> s.id) ~ ("parent" -> s.parent) ~
        ("name" -> s.name) ~ ("start_ns" -> s.startNs) ~ ("end_ns" -> s.endNs) ~
        ("forced" -> s.forced)
    }
    Files.writeString(p, compact(render(js)))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}
