package graft.perfbench

import java.net.InetSocketAddress
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same scale as the timestamps Spark puts in listener events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `parent` is -1 for an op's root span. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Per-op counters, taken at the op boundaries. */
final class Counts {
  val c: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = c(k) += v
  def max(k: String, v: Double): Unit = c(k) = math.max(c(k), v)
}

/** Records Spark jobs, stages, task metrics and per-operator SQL metrics of
  * the op that is current, as spans and counts. Events outside an op (set-up,
  * checks, plaintext twins) are ignored.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  @volatile private var op = -1
  @volatile private var counts: Counts = new Counts
  private val jobs = mutable.Map.empty[Int, (Double, Int)] // jobId -> (start, op)
  private val stageJob = mutable.Map.empty[Int, Int]
  val jobSpans = new ConcurrentLinkedQueue[(Int, Int, Double, Double)]()   // op, jobId, start, end
  val stageSpans = new ConcurrentLinkedQueue[(Int, Int, Double, Double)]() // op, jobId, start, end

  def begin(opId: Int, c: Counts): Unit = synchronized { counts = c; op = opId }
  def end(): Unit = synchronized { op = -1 }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (op >= 0) {
      jobs(e.jobId) = (e.time.toDouble, op)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      counts.add("driver.jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (start, o) =>
      jobSpans.add((o, e.jobId, start, e.time.toDouble))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageJob.get(si.stageId).flatMap(j => jobs.get(j).map(j -> _._2)).foreach { case (j, o) =>
      counts.add("driver.stages", 1)
      for (s <- si.submissionTime; f <- si.completionTime)
        stageSpans.add((o, j, s.toDouble, f.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (op >= 0 && m != null && stageJob.contains(e.stageId)) {
      counts.add("driver.tasks", 1)
      counts.add("driver.task_s", m.executorRunTime / 1e3)
      counts.add("driver.executor_cpu_s", m.executorCpuTime / 1e9)
      counts.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      counts.add("shuffle.write_ms", m.shuffleWriteMetrics.writeTime / 1e6)
      counts.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      counts.add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      counts.add("ops.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      counts.max("ops.peak_mem_bytes", m.peakExecutionMemory.toDouble)
      counts.add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
      counts.add("scan.rows_read", m.inputMetrics.recordsRead.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { if (op >= 0) planMetrics(qe.executedPlan) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Operator SQL metrics of the executed (AQE-final) plan. */
  private def planMetrics(root: SparkPlan): Unit = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    nodes(root).foreach { n =>
      def m(k: String): Double = n.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      n match {
        case _: FileSourceScanExec | _: BatchScanExec =>
          counts.add("scan.files", m("numFiles"))
          counts.add("scan.time_ms", m("scanTime"))
        case _ =>
      }
      counts.add("ops.sort_ms", m("sortTime"))
      counts.add("ops.agg_ms", m("aggTime"))
      counts.add("ops.join_build_ms", m("buildTime"))
    }
  }
}

/** Timing HTTP proxy in front of the KMS: every wrap/unwrap call made by
  * the PME key tools passes through it and is recorded as a `kms.call`
  * span with its status.
  */
final class KmsProxy(target: String) {
  final case class Call(op: String, status: Int, startMs: Double, endMs: Double)
  val calls = new ConcurrentLinkedQueue[Call]()
  private val http = HttpClient.newHttpClient()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => forward(ex))
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4, r => {
    val t = new Thread(r, "kms-proxy"); t.setDaemon(true); t
  }))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = server.stop(0)

  private def forward(ex: HttpExchange): Unit =
    try {
      val t0 = Clock.ms
      val path = ex.getRequestURI.getPath
      val b = HttpRequest.newBuilder(java.net.URI.create(target + path))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofByteArray(ex.getRequestBody.readAllBytes()))
      Option(ex.getRequestHeaders.getFirst("x-api-key")).foreach(b.header("x-api-key", _))
      val resp = http.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
      val body = resp.body()
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(resp.statusCode(), body.length.toLong)
      ex.getResponseBody.write(body)
      val op = if (path.contains("/unwrap/")) "unwrap" else "wrap"
      calls.add(Call(op, resp.statusCode(), t0, Clock.ms))
    } finally ex.close()
}

/** Spark's generated-code histograms (compile time, class and method
  * bytecode sizes). A window's values are the multiset difference of two
  * snapshots; the histograms keep every sample until 1028 per histogram.
  */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  final case class Snap(compile: Seq[Long], classes: Long, methods: Seq[Long])
  def snap(): Snap = Snap(
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.toSeq,
    CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount,
    CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getValues.toSeq)

  /** (compile ms, classes generated, largest generated method in bytes). */
  def delta(a: Snap, b: Snap): (Double, Double, Double) = {
    def diff(x: Seq[Long], y: Seq[Long]): Seq[Long] = y.diff(x)
    (diff(a.compile, b.compile).sum.toDouble, (b.classes - a.classes).toDouble,
      diff(a.methods, b.methods).maxOption.getOrElse(0L).toDouble)
  }
}

/** Self time of each span name: a span's duration minus the part of it
  * that its children cover.
  */
object SelfTime {
  def apply(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs))))
        (s.durMs - covered) / 1e3
      }.sum
    }
  }

  /** Length of the union of intervals, in ms. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }
}
