package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{Graft, Registry, Tables}
import graft.crypto.{EncryptionPolicy, PrivilegeLevel}
import graft.functions.GraftFunctions
import graft.io.EncryptedParquet
import graft.kms.TestKmsServer
import org.apache.parquet.crypto.KeyAccessDeniedException
import org.apache.parquet.crypto.keytools.KeyToolkit
import org.apache.spark.perfbench.Internals
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run in one JVM: the cold set-up, a closed loop with one
  * client over the op sequence that `run.py` generated from the seed, then
  * more set-up rounds for a median. Writes every op's record and the run's
  * measurements as one JSON document; `run.py` judges the records and prints
  * the metrics.
  *
  * Usage: Main <specs.json> <work dir> <out.json>
  */
object Main {
  val Cpus = 4
  private val mapper = new ObjectMapper()
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS: Double = osBean.getProcessCpuTime / 1e9
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.toDouble).sum
  def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** The conf of `graft.Bench`'s session, then `Graft.tune` and function
    * registration.
    */
  def session(): SparkSession = {
    val c = Cpus.toString
    val spark = SparkSession.builder()
      .master(s"local[$c]")
      .config("spark.sql.shuffle.partitions", c)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", c)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Graft.tune(spark)
    GraftFunctions.register(spark)
    spark
  }

  /** Row count and an order-independent content hash, computed in Spark. */
  def hashAgg(df: DataFrame): (Long, Long) = {
    val cols = df.columns.toSeq.map(c => col(s"`$c`"))
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(cols: _*), lit(2147483647L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(): Unit
  }

  /** One set-up round: a fresh KMS, session and fixture directory. */
  def setupRound(w: Workload, work: String, r: Int): (TestKmsServer, Ctx) = {
    val s0 = System.nanoTime()
    val kms = new TestKmsServer().start()
    val ctx = new Ctx(session(), kms.url, s"$work/round-$r")
    new File(ctx.dir).mkdirs()
    val s1 = System.nanoTime()
    w.setup(ctx, main = r == 1)
    System.err.println(f"[perfbench] set-up round $r: session and KMS ${(s1 - s0) / 1e9}%.2f s, " +
      f"fixtures and warm-up ${(System.nanoTime() - s1) / 1e9}%.2f s")
    (kms, ctx)
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val t0 = System.nanoTime()
    System.err.println(s"[perfbench] JVM start to main: ${ManagementFactory.getRuntimeMXBean.getUptime} ms")
    val spec = mapper.readTree(new File(args(0)))
    val work = args(1)
    val out = new File(args(2))
    val traced = spec.get("trace").asInt() == 1
    val workload = Workload(spec.get("workload").asText(), spec)

    // Round 1 is the cold set-up: from JVM main to the first timed op.
    val (kms, ctx) = setupRound(workload, work, 1)
    val coldS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] set-up round 1 from JVM main: $coldS%.2f s")

    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val ops = spec.get("ops")
    var tracing: Option[(Tracing, Double, Double)] = None
    if (!traced) {
      val seconds = spec.get("seconds").asDouble()
      var timed = 0.0
      var i = 0
      while (i < ops.size && (timed < seconds || !workload.atBoundary(i))) { // i ops done
        val rec = runOp(ctx, workload, ops.get(i), i, "timed", None)
        timed += rec("wall_s").asInstanceOf[Double]
        records += rec
        i += 1
      }
    } else {
      // Untraced then traced, over the same fixed op list, so the traced
      // counts repeat for a seed and the difference is the tracing overhead.
      val n = spec.get("trace_ops").asInt()
      (0 until n).foreach(i => records += runOp(ctx, workload, ops.get(i), i, "untraced", None))
      val rec = new Recorder
      val proxy = new KmsProxy(kms.url)
      ctx.kmsUrl = proxy.url
      ctx.spark.sparkContext.addSparkListener(rec)
      ctx.spark.listenerManager.register(rec)
      val jit0 = jitMs; val gc0 = gcMs
      val tr = new Tracing(rec, proxy)
      (0 until n).foreach(i => records += runOp(ctx, workload, ops.get(i), i, "traced", Some(tr)))
      Internals.drain(ctx.spark.sparkContext)
      tracing = Some((tr, jitMs - jit0, gcMs - gc0))
      ctx.kmsUrl = ctx.kmsDirectUrl
      proxy.stop()
    }

    val finished = workload.finish(ctx)
    val checkedRecords = records.toSeq.map(r =>
      r ++ r.get("dir").flatMap(d => finished.get(d.toString)).getOrElse(Map.empty))
    val perLayer = tracing.map { case (tr, jit, gc) =>
      tr.writeSpans(new File(out.getParentFile, "spans.jsonl"))
      tr.layerMetrics(workload, checkedRecords.filter(_("phase") == "traced")) ++
        Map("jit.compile_ms" -> jit, "jvm.gc_ms" -> gc) ++ workload.codegenMetrics
    }.getOrElse(Map.empty)
    val conf = ctx.spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql") || k.startsWith("spark.shuffle") ||
        k == "spark.master" || k == "spark.local.dir" }
    ctx.spark.stop()
    kms.stop()

    // The later rounds repeat the whole set-up after the loop, each with a
    // fresh session, KMS and fixture directory and with Spark's generated-code
    // cache and the KEK caches emptied, so it compiles and unwraps again. JVM
    // start, class loading and JIT warm-up are in round 1 only.
    val laterS = (2 to spec.get("setup_rounds").asInt()).map { r =>
      val r0 = System.nanoTime()
      Internals.clearCodegenCache()
      KeyToolkit.removeCacheEntriesForAllTokens()
      val (k, c) = setupRound(workload, work, r)
      val dt = (System.nanoTime() - r0) / 1e9
      System.err.println(f"[perfbench] set-up round $r in all: $dt%.2f s")
      c.spark.stop()
      k.stop()
      dt
    }
    val doc = Map(
      "workload" -> workload.name,
      "setup_rounds_s" -> (coldS +: laterS),
      "records" -> checkedRecords,
      "per_layer" -> perLayer,
      "session_conf" -> conf.toMap,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "extra" -> workload.extra)
    mapper.writerWithDefaultPrettyPrinter().writeValue(out, Json.toJava(doc))
  }

  /** One op: the timed call, then its untimed checks. */
  def runOp(ctx: Ctx, w: Workload, op: JsonNode, i: Int, phase: String,
      tr: Option[Tracing]): Map[String, Any] = {
    val sc = ctx.spark.sparkContext
    tr.foreach { t => Internals.drain(sc); t.begin(i) }
    val c0 = cpuS
    val s0 = Clock.ms
    val res = Try(w.run(ctx, op, tr))
    val s1 = Clock.ms
    val c1 = cpuS
    tr.foreach { t => Internals.drain(sc); t.end(s0, s1) }
    // An op's query is its read spec or write subset (engine_heavy: its query).
    val query = Option(op.get("id")).map(_.asText()).getOrElse(w.opType(op))
    val base = Map[String, Any]("phase" -> phase, "i" -> i, "type" -> w.opType(op),
      "query" -> query, "wall_s" -> (s1 - s0) / 1e3, "cpu_s" -> (c1 - c0))
    val checked = w.check(ctx, op, res, tr)
    tr.foreach(_.storagePeak(ctx.spark))
    base ++ checked + ("check_s" -> (Clock.ms - s1) / 1e3)
  }

  /** Outcome of an op that was expected to return rows or be refused. */
  def outcome(res: Try[Any]): Map[String, Any] = res match {
    case scala.util.Success(v) => Map("outcome" -> "ok", "value" -> v)
    case scala.util.Failure(e) =>
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      if (chain.exists(_.isInstanceOf[KeyAccessDeniedException])) Map("outcome" -> "denied")
      else Map("outcome" -> "error", "error" -> chain.map(x => s"${x.getClass.getName}: ${x.getMessage}")
        .mkString(" <- ").take(600))
  }
}

/** Live objects of one set-up round. The ops' `kmsUrl` is swapped for the
  * timing proxy's in the traced phase; checks use `kmsDirectUrl`, so their
  * KMS calls are not counted.
  */
final class Ctx(val spark: SparkSession, val kmsDirectUrl: String, val dir: String) {
  var kmsUrl: String = kmsDirectUrl
}

/** Spans and counts of the traced phase. */
final class Tracing(rec: Recorder, proxy: KmsProxy) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val opCounts = mutable.Map.empty[Int, Counts]
  private var op = -1
  private var opSpan = -1
  val storage = mutable.ArrayBuffer.empty[Double]

  def begin(i: Int): Unit = {
    op = i
    opSpan = spans.size
    spans += Span(opSpan, -1, "op", i, 0, 0) // filled in by end()
    rec.begin(i, opCounts.getOrElseUpdate(i, new Counts))
  }

  def end(s0: Double, s1: Double): Unit = {
    rec.end()
    spans(opSpan) = spans(opSpan).copy(startMs = s0, endMs = s1)
  }

  /** Time `body` as a child span of the current op. */
  def span[T](name: String)(body: => T): T = {
    val a = Clock.ms
    try body finally spans += Span(spans.size, opSpan, name, op, a, Clock.ms)
  }

  def counts(i: Int): Counts = opCounts.getOrElseUpdate(i, new Counts)

  def storagePeak(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val mem = sc.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }.sum
    val disk = sc.getRDDStorageInfo.map(_.diskSize).sum
    storage += (mem + disk) / 1e6
  }

  /** Attach Spark job/stage spans and KMS calls to the op spans: a job
    * goes under the harness span that contains its start, a stage under its
    * job, a KMS call under the innermost span that contains it.
    */
  private def assemble(): Seq[Span] = {
    val all = mutable.ArrayBuffer.empty[Span] ++ spans
    def add(parent: Int, name: String, o: Int, a: Double, b: Double): Int = {
      all += Span(all.size, parent, name, o, a, b); all.size - 1
    }
    def contains(s: Span, a: Double, b: Double) = s.startMs <= a && b <= s.endMs + 1
    val jobIds = mutable.Map.empty[Int, Int]
    rec.jobSpans.asScala.toSeq.sortBy(_._3).foreach { case (o, j, a, b) =>
      val parent = spans.filter(s => s.op == o && s.parent >= 0 && contains(s, a, a))
        .lastOption.orElse(spans.find(s => s.op == o && s.parent < 0)).map(_.id).getOrElse(-1)
      jobIds(j) = add(parent, "job", o, a, b)
    }
    rec.stageSpans.asScala.foreach { case (o, j, a, b) =>
      jobIds.get(j).foreach(p => add(p, "stage", o, a, b))
    }
    val frozen = all.toVector
    proxy.calls.asScala.foreach { c =>
      val holders = frozen.filter(s => contains(s, c.startMs, c.endMs))
      val parent = holders.sortBy(_.durMs).headOption
      add(parent.map(_.id).getOrElse(-1), "kms.call", parent.map(_.op).getOrElse(-1),
        c.startMs, c.endMs)
    }
    all.toSeq
  }

  /** Counts summed over the traced ops (peak memory: the maximum). */
  def totals: Counts = {
    val c = new Counts
    opCounts.values.foreach(_.c.foreach { case (k, v) =>
      if (k == "ops.peak_mem_bytes") c.max(k, v) else c.add(k, v) })
    c
  }

  def layerMetrics(w: Workload, recs: Seq[Map[String, Any]]): Map[String, Double] = {
    val inOps = assemble().filter(_.op >= 0)
    val c = totals
    val calls = proxy.calls.asScala.toSeq
    val okCalls = calls.filter(_.status == 200)
    val callMs = calls.map(x => x.endMs - x.startMs).sorted
    val gap = inOps.filter(_.parent < 0).map { s =>
      val jobs = inOps.filter(j => j.op == s.op && j.name == "job").map(j => (j.startMs, j.endMs))
      (s.durMs - SelfTime.union(jobs)) / 1e3
    }.sum
    val self = SelfTime(inOps)
    val base = Seq(
      "kms.wrap_calls" -> okCalls.count(_.op == "wrap").toDouble,
      "kms.unwrap_calls" -> okCalls.count(_.op == "unwrap").toDouble,
      "kms.denied_calls" -> calls.count(_.status == 403).toDouble,
      "kms.call_ms_p50" -> (if (callMs.isEmpty) 0.0 else callMs(callMs.size / 2)),
      "kms.call_ms_sum" -> callMs.sum,
      "scan.files" -> c.c("scan.files"),
      "scan.bytes_read" -> c.c("scan.bytes_read"),
      "scan.rows_read" -> c.c("scan.rows_read"),
      "scan.time_ms" -> c.c("scan.time_ms"),
      "ops.sort_ms" -> c.c("ops.sort_ms"),
      "ops.agg_ms" -> c.c("ops.agg_ms"),
      "ops.join_build_ms" -> c.c("ops.join_build_ms"),
      "ops.spill_bytes" -> c.c("ops.spill_bytes"),
      "ops.peak_mem_bytes" -> c.c("ops.peak_mem_bytes"),
      "shuffle.write_bytes" -> c.c("shuffle.write_bytes"),
      "shuffle.read_bytes" -> c.c("shuffle.read_bytes"),
      "shuffle.fetch_wait_ms" -> c.c("shuffle.fetch_wait_ms"),
      "shuffle.write_ms" -> c.c("shuffle.write_ms"),
      "driver.jobs" -> c.c("driver.jobs"),
      "driver.stages" -> c.c("driver.stages"),
      "driver.tasks" -> c.c("driver.tasks"),
      "driver.task_s" -> c.c("driver.task_s"),
      "driver.executor_cpu_s" -> c.c("driver.executor_cpu_s"),
      "driver.gap_s" -> gap,
      "driver.storage_mb_peak" -> storage.maxOption.getOrElse(0.0)) ++
      Seq("op", "pme.write", "pme.read_open", "action", "job", "stage", "kms.call")
        .map(n => s"self_s.$n" -> self.getOrElse(n, 0.0)) ++
      Seq("pme.write" -> "pme.write_s", "pme.read_open" -> "pme.read_open_s").map { case (n, k) =>
        k -> inOps.filter(_.name == n).map(_.durMs / 1e3).sum }
    base.toMap ++ w.layerMetrics(recs, this)
  }

  def writeSpans(f: File): Unit = {
    val w = new java.io.PrintWriter(f)
    try assemble().foreach { s =>
      w.println(f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":${s.op},""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    } finally w.close()
  }
}

/** Scala values to Jackson-serializable Java values. */
object Json {
  def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case other => other
  }
}

/** A benchmark workload: set-up, the timed op, and the op's checks. */
abstract class Workload(val spec: JsonNode) {
  def name: String
  def opType(op: JsonNode): String
  /** Set-up of one round; `main` marks round 1, the one the loop runs on. */
  def setup(ctx: Ctx, main: Boolean): Unit
  def run(ctx: Ctx, op: JsonNode, tr: Option[Tracing]): Any
  def check(ctx: Ctx, op: JsonNode, res: Try[Any], tr: Option[Tracing]): Map[String, Any]
  /** True when the timed region may end after `done` ops. */
  def atBoundary(done: Int): Boolean = true
  /** The workload's own layer metrics: the PME sizes and ratios, and the
    * scan's rows-read ratio (zero where the workload has none).
    */
  def layerMetrics(recs: Seq[Map[String, Any]], tr: Tracing): Seq[(String, Double)]
  /** Checks run once after the loop, keyed by the `dir` an op's check
    * reported; merged into those ops' records.
    */
  def finish(ctx: Ctx): Map[String, Map[String, Any]] = Map.empty
  /** Per op type: (compile ms, classes, largest method bytes) during warm-up. */
  val codegen = mutable.LinkedHashMap.empty[String, (Double, Double, Double)]
  def codegenMetrics: Seq[(String, Double)] = Seq(
    "codegen.compile_ms" -> codegen.values.map(_._1).sum,
    "codegen.classes" -> codegen.values.map(_._2).sum,
    "codegen.max_method_bytes" -> codegen.values.map(_._3).maxOption.getOrElse(0.0))
  def extra: Map[String, Any] = Map.empty

  protected def corpus: String = spec.get("corpus").asText()

  protected def policies: Map[String, EncryptionPolicy] =
    spec.get("policies").fields().asScala.map { e =>
      e.getKey -> EncryptionPolicy(
        columnKeys = e.getValue.fields().asScala.map { l =>
          PrivilegeLevel.fromName(l.getKey).get -> l.getValue.elements().asScala.map(_.asText()).toSeq
        }.toMap,
        footerKey = PrivilegeLevel.Public)
    }.toMap

  protected def load(spark: SparkSession, dir: String, table: String): DataFrame =
    if (table == "events") Tables.events(spark, dir) else Tables.load(spark, dir, table)

  /** Capture generated-code statistics around `body` under `key`. */
  protected def codegenWindow[T](key: String)(body: => T): T = {
    val a = Codegen.snap()
    try body finally {
      val (ms, classes, maxM) = Codegen.delta(a, Codegen.snap())
      val (ms0, classes0, maxM0) = codegen.getOrElse(key, (0.0, 0.0, 0.0))
      codegen(key) = (ms0 + ms, classes0 + classes, math.max(maxM0, maxM))
    }
  }

  protected def sumLayer(recs: Seq[Map[String, Any]], k: String): Double =
    recs.flatMap(_.get(k)).map(_.asInstanceOf[Number].doubleValue).sum
}

object Workload {
  def apply(name: String, spec: JsonNode): Workload = name match {
    case "pme_write" => new PmeWrite(spec)
    case "pme_read" => new PmeRead(spec)
    case "engine_heavy" => new EngineHeavy(spec)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def dirFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).toSeq

  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** `column` of `f` as read by parquet-mr with the given Hadoop properties. */
  private def readColumn(f: File, column: String, props: Map[String, String]): Seq[String] = {
    import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
    import org.apache.parquet.hadoop.api.ReadSupport
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val conf = new org.apache.hadoop.conf.Configuration(hadoopConf)
    props.foreach { case (k, v) => conf.set(k, v) }
    val path = new org.apache.hadoop.fs.Path(f.toURI)
    val footer = ParquetFileReader.open(org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
    val schema = try footer.getFooter.getFileMetaData.getSchema finally footer.close()
    conf.set(ReadSupport.PARQUET_READ_SCHEMA, new org.apache.parquet.schema.MessageType("m",
      schema.getType(schema.getFieldIndex(column))).toString)
    val r = ParquetReader.builder(new GroupReadSupport(), path).withConf(conf).build()
    try Iterator.continually(r.read()).takeWhile(_ != null).map(_.toString).toVector
    finally r.close()
  }

  /** True when a reader with no crypto options gets the plaintext of
    * `column` out of `f`. Such a reader usually fails on the encrypted
    * pages; on a small chunk it can instead decode the ciphertext into
    * garbage, which leaks nothing, so a successful read counts as a leak
    * only when it returns values and they equal the decrypted ones. (A file
    * with no rows holds nothing to leak.)
    */
  def plainReadLeaks(f: File, column: String, kmsUrl: String): Boolean =
    Try(readColumn(f, column, Map.empty)).toOption.filter(_.nonEmpty).exists { plain =>
      val leaked = Try(readColumn(f, column, EncryptionPolicy.readConfMap(kmsUrl, Some("RESTRICTED"))))
        .toOption.contains(plain)
      if (leaked) System.err.println(s"[perfbench] plaintext of $column read without keys from $f: " +
        plain.take(5).mkString("|").replace("\n", " "))
      leaked
    }

  /** Length of a parquet file's footer (the 4-byte length before the
    * trailing magic).
    */
  def footerBytes(f: File): Long = {
    val raf = new java.io.RandomAccessFile(f, "r")
    try {
      raf.seek(f.length - 8)
      val b = new Array[Byte](4)
      raf.readFully(b)
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt.toLong
    } finally raf.close()
  }
}

/** Each op encrypts and writes one seeded row subset of one table. */
final class PmeWrite(spec: JsonNode) extends Workload(spec) {
  val name = "pme_write"
  private val pol = policies
  private var src: Map[String, DataFrame] = Map.empty
  private val used = mutable.Map.empty[Int, JsonNode]       // subset id -> op
  private val written = mutable.Map.empty[String, Int]      // output dir -> subset id
  private var plainProbes = 0
  private var writes = 0 // names each op's output directory
  private val ZstdLevel = 3

  def opType(op: JsonNode): String = op.get("table").asText()

  private def subset(op: JsonNode): DataFrame = {
    val key = op.get("key").asText()
    src(opType(op)).filter(col(key) >= op.get("lo").asLong() && col(key) < op.get("hi").asLong())
  }

  def setup(ctx: Ctx, main: Boolean): Unit = {
    // Sources are cached, so an op's work is encrypt, encode, compress,
    // wrap and write, on every core.
    src = pol.keys.map { t =>
      val df = load(ctx.spark, corpus, t).repartition(Main.Cpus).cache()
      df.count()
      t -> df
    }.toMap
    spec.get("warmup").elements().asScala.foreach { op =>
      val f = () => check(ctx, op, Try(run(ctx, op, None)), None)
      if (main) codegenWindow(opType(op))(f()) else f()
    }
    Main.deleteTree(new File(s"${ctx.dir}/w"))
  }

  /** The leak check's own control: a subset of each table written with no
    * encryption must be flagged on every column the policy would encrypt,
    * or the run fails.
    */
  private def leakControl(ctx: Ctx): Unit = pol.keys.toSeq.sorted.foreach { t =>
    val op = spec.get("warmup").elements().asScala.find(o => opType(o) == t).get
    val dir = s"${ctx.dir}/control/$t"
    subset(op).write.parquet(dir)
    val f = Workload.dirFiles(dir).maxBy(_.length)
    pol(t).columnKeys.values.flatten.toSeq.sorted.foreach { c =>
      if (!Workload.plainReadLeaks(f, c, ctx.kmsDirectUrl))
        throw new IllegalStateException(s"leak check missed plaintext column $c of $f")
    }
    Main.deleteTree(new File(dir))
  }

  def run(ctx: Ctx, op: JsonNode, tr: Option[Tracing]): Any = {
    writes += 1
    val out = s"${ctx.dir}/w/${opType(op)}/op-$writes"
    val df = subset(op)
    val write = () => EncryptedParquet.write(df, out, pol(opType(op)), ctx.kmsUrl,
      zstdLevel = ZstdLevel, pageV2 = true)
    tr match {
      case Some(t) => t.span("pme.write")(write())
      case None => write()
    }
    out
  }

  def check(ctx: Ctx, op: JsonNode, res: Try[Any], tr: Option[Tracing]): Map[String, Any] = {
    val r = Main.outcome(res)
    if (r("outcome") != "ok") return r
    val out = r("value").asInstanceOf[String]
    val table = opType(op)
    // A reader with no crypto options must not get the plaintext of an
    // encrypted column; each op tries the next column, on the next file.
    val encCols = pol(table).columnKeys.values.flatten.toSeq.sorted
    val files = Workload.dirFiles(out).sortBy(_.getName)
    val probe = encCols(plainProbes % encCols.size)
    val probeFile = files.lift(plainProbes % math.max(1, files.size))
    plainProbes += 1
    used(op.get("id").asInt()) = op
    written(out) = op.get("id").asInt()
    var m = Map[String, Any]("outcome" -> "ok", "dir" -> out,
      "plain_read_leaked" -> probeFile.exists(Workload.plainReadLeaks(_, probe, ctx.kmsDirectUrl)),
      "files" -> files.size, "bytes" -> files.map(_.length).sum,
      "footer_bytes" -> files.map(Workload.footerBytes).sum)
    tr.foreach { _ =>
      // The same op on a plaintext twin: same codec, level and page version.
      val twin = out + "-plain"
      val a = Clock.ms
      subset(op).write.option("compression", "zstd")
        .option("parquet.compression.codec.zstd.level", ZstdLevel.toString)
        .option("parquet.writer.version", "v2").parquet(twin)
      m ++= Map("twin_wall_s" -> (Clock.ms - a) / 1e3,
        "twin_bytes" -> Workload.dirFiles(twin).map(_.length).sum)
      Main.deleteTree(new File(twin))
    }
    m
  }

  /** Decrypt every op's output in one job per table (RESTRICTED token) and
    * hash it per op directory, next to the same hash of each source subset;
    * the outputs are deleted afterwards. Runs the leak check's control first.
    */
  override def finish(ctx: Ctx): Map[String, Map[String, Any]] = {
    leakControl(ctx)
    val expected = used.values.groupBy(opType).flatMap { case (t, ops) =>
      import ctx.spark.implicits._
      val key = ops.head.get("key").asText()
      val ranges = ops.toSeq.map(o => (o.get("id").asInt(), o.get("lo").asLong(), o.get("hi").asLong()))
        .toDF("subset", "lo", "hi")
      val s = src(t)
      val cols = s.columns.toSeq.map(c => s(s"`$c`"))
      s.join(broadcast(ranges), s(key) >= ranges("lo") && s(key) < ranges("hi"))
        .groupBy("subset")
        .agg(count(lit(1)), coalesce(sum(pmod(xxhash64(cols: _*), lit(2147483647L))), lit(0L)))
        .collect().toSeq.map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
    }.toMap
    val back = pol.keys.toSeq.flatMap { t =>
      val dir = s"${ctx.dir}/w/$t"
      if (!new File(dir).isDirectory) Nil
      else {
        val df = EncryptedParquet.read(ctx.spark, s"$dir/op-*", ctx.kmsDirectUrl, Some("RESTRICTED"))
        val cols = df.columns.toSeq.map(c => col(s"`$c`"))
        df.groupBy(regexp_extract(input_file_name(), "/(op-[0-9]+)/", 1).as("op"))
          .agg(count(lit(1)), coalesce(sum(pmod(xxhash64(cols: _*), lit(2147483647L))), lit(0L)))
          .collect().toSeq
          .map(r => s"$dir/${r.getString(0)}" -> (r.getLong(1), r.getLong(2)))
      }
    }.toMap
    Main.deleteTree(new File(s"${ctx.dir}/w"))
    val none = (0L, 0L)
    written.map { case (dir, id) =>
      val (n, h) = back.getOrElse(dir, none)
      val (en, eh) = expected.getOrElse(id, none)
      dir -> Map[String, Any]("rows" -> n, "hash" -> h, "expected_rows" -> en, "expected_hash" -> eh)
    }.toMap
  }

  def layerMetrics(recs: Seq[Map[String, Any]], tr: Tracing): Seq[(String, Double)] = {
    val wall = sumLayer(recs, "wall_s")
    val plainBytes = sumLayer(recs, "twin_bytes")
    Seq(
      "pme.files_written" -> sumLayer(recs, "files"),
      "pme.footer_bytes" -> sumLayer(recs, "footer_bytes"),
      "pme.write_overhead_ratio" -> wall / sumLayer(recs, "twin_wall_s"),
      "pme.read_overhead_ratio" -> 0.0,
      "bytes_stored_ratio" -> (if (plainBytes > 0) sumLayer(recs, "bytes") / plainBytes else 0.0),
      "write_rows_per_s" -> sumLayer(recs, "rows") / wall,
      "scan.rows_read_ratio" -> 0.0)
  }
}

/** Each op is a seeded, token-gated aggregate read of the encrypted corpus. */
final class PmeRead(spec: JsonNode) extends Workload(spec) {
  val name = "pme_read"
  private val pol = policies
  // Row groups of about 128 KB: several per file, so predicates on the
  // clustering column can skip row groups.
  private val RowGroupBytes = 128 << 10
  private var encDir = ""
  private var plainDir = ""
  private val tableRows: Map[String, Long] =
    spec.get("table_rows").fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap

  def opType(op: JsonNode): String = op.get("table").asText()

  def setup(ctx: Ctx, main: Boolean): Unit = {
    encDir = s"${ctx.dir}/enc"
    plainDir = s"${ctx.dir}/plain"
    val traced = spec.get("trace").asInt() == 1
    pol.foreach { case (t, p) =>
      val df = clustered(t, load(ctx.spark, corpus, t))
      EncryptedParquet.write(df, s"$encDir/$t", p, ctx.kmsUrl, zstdLevel = 3, pageV2 = true,
        extraOptions = Map("parquet.block.size" -> RowGroupBytes.toString))
      if (traced && main)
        df.write.option("compression", "zstd").option("parquet.compression.codec.zstd.level", "3")
          .option("parquet.writer.version", "v2").option("parquet.block.size", RowGroupBytes.toString)
          .parquet(s"$plainDir/$t")
    }
    spec.get("warmup").elements().asScala.foreach { op =>
      val f = () => check(ctx, op, Try(run(ctx, op, None)), None)
      if (main) codegenWindow(opType(op))(f()) else f()
    }
  }

  private def clustered(t: String, df: DataFrame): DataFrame =
    if (t == "lineitem")
      df.repartitionByRange(Main.Cpus, col("l_shipdate")).sortWithinPartitions("l_shipdate")
    else df

  /** The op's aggregate query over `df`. */
  private def query(df: DataFrame, op: JsonNode): DataFrame = {
    val p = op.get("pred")
    val filtered = if (p == null || p.isNull) df else {
      val c = col(p.get("col").asText())
      p.get("kind").asText() match {
        case "num" => df.filter(c >= p.get("lo").asDouble() && c < p.get("hi").asDouble())
        case "ts" =>
          // Literals of the column's own type, so the predicate is pushed down.
          val t = df.schema(p.get("col").asText()).dataType
          df.filter(c >= lit(p.get("lo").asText()).cast(t) && c < lit(p.get("hi").asText()).cast(t))
        case "eq" => df.filter(c === p.get("value").asText())
      }
    }
    val aggs: Seq[Column] = op.get("aggs").elements().asScala.toSeq.zipWithIndex.map { case (a, k) =>
      val c = col(a.get(1).asText())
      (a.get(0).asText() match {
        case "count" => count(lit(1))
        case "sum_dec" => sum(c.cast("decimal(18,2)"))
        case "sum_int" => sum(c.cast("long"))
        case "max_str" => max(c)
        case "max_ts" => max(unix_seconds(c.cast("timestamp")))
      }).as(s"a$k")
    }
    filtered.agg(aggs.head, aggs.tail: _*)
  }

  private def token(op: JsonNode): Option[String] =
    Option(op.get("token")).filterNot(_.isNull).map(_.asText())

  def run(ctx: Ctx, op: JsonNode, tr: Option[Tracing]): Any = {
    if (op.get("cold").asBoolean()) KeyToolkit.removeCacheEntriesForAllTokens()
    val path = s"$encDir/${opType(op)}"
    tr match {
      case Some(t) =>
        val df = t.span("pme.read_open")(EncryptedParquet.read(ctx.spark, path, ctx.kmsUrl, token(op)))
        t.span("action")(query(df, op).collect())
      case None =>
        query(EncryptedParquet.read(ctx.spark, path, ctx.kmsUrl, token(op)), op).collect()
    }
  }

  private def values(v: Any): Seq[String] =
    v.asInstanceOf[Array[org.apache.spark.sql.Row]].head.toSeq.map {
      case null => null
      case d: java.math.BigDecimal => d.toPlainString
      case x => x.toString
    }

  def check(ctx: Ctx, op: JsonNode, res: Try[Any], tr: Option[Tracing]): Map[String, Any] = {
    val r = Main.outcome(res)
    var m: Map[String, Any] = r - "value" ++ Map("spec" -> op.get("id").asInt(),
      "cold" -> op.get("cold").asBoolean(), "addressed_rows" -> tableRows(opType(op)))
    if (r("outcome") == "ok") m += "values" -> values(r("value"))
    if (tr.isDefined && r("outcome") == "ok") {
      val a = Clock.ms
      query(ctx.spark.read.parquet(s"$plainDir/${opType(op)}"), op).collect()
      m += "twin_wall_s" -> (Clock.ms - a) / 1e3
    }
    m
  }

  def layerMetrics(recs: Seq[Map[String, Any]], tr: Tracing): Seq[(String, Double)] = {
    val ok = recs.filter(_.contains("twin_wall_s"))
    Seq(
      "pme.files_written" -> 0.0,
      "pme.footer_bytes" -> 0.0,
      "pme.write_overhead_ratio" -> 0.0,
      "pme.read_overhead_ratio" -> sumLayer(ok, "wall_s") / sumLayer(ok, "twin_wall_s"),
      "bytes_stored_ratio" -> 0.0,
      "write_rows_per_s" -> 0.0,
      "scan.rows_read_ratio" -> tr.totals.c("scan.rows_read") / sumLayer(ok, "addressed_rows"))
  }
}

/** The heavy plaintext registry queries, one op per query, whole passes. */
final class EngineHeavy(spec: JsonNode) extends Workload(spec) {
  val name = "engine_heavy"
  private val passLen = spec.get("pass_len").asInt()
  private val ref = mutable.Map.empty[String, (Long, Long)]
  private val rounds = mutable.Map.empty[String, Seq[(Long, Long)]]
  private var dir = ""

  def opType(op: JsonNode): String = op.get("query").asText()
  override def atBoundary(done: Int): Boolean = done % passLen == 0

  def setup(ctx: Ctx, main: Boolean): Unit = {
    // A copy of the corpus per round: fixtures (the ANN index) are keyed by
    // the corpus path, so every round builds them cold.
    dir = s"${ctx.dir}/corpus"
    new File(dir).mkdirs()
    Option(new File(corpus).listFiles()).getOrElse(Array.empty).foreach { f =>
      java.nio.file.Files.copy(f.toPath, new File(dir, f.getName).toPath)
    }
    spec.get("warmup").elements().asScala.foreach { op =>
      val q = opType(op)
      val h = if (main) codegenWindow(q)(Main.hashAgg(Graft.query(q)(ctx.spark, dir)))
              else Main.hashAgg(Graft.query(q)(ctx.spark, dir))
      rounds(q) = rounds.getOrElse(q, Nil) :+ h
      if (main) {
        // The result the oracle checks; later ops must hash to the same.
        val out = s"${ctx.dir}/results/$q"
        Graft.query(q)(ctx.spark, dir).coalesce(1).write.parquet(out)
        ref(q) = Main.hashAgg(ctx.spark.read.parquet(out))
      }
    }
  }

  def run(ctx: Ctx, op: JsonNode, tr: Option[Tracing]): Any = {
    val q = opType(op)
    tr match {
      case Some(t) => t.span("action")(Main.hashAgg(Graft.query(q)(ctx.spark, dir)))
      case None => Main.hashAgg(Graft.query(q)(ctx.spark, dir))
    }
  }

  def check(ctx: Ctx, op: JsonNode, res: Try[Any], tr: Option[Tracing]): Map[String, Any] = {
    val r = Main.outcome(res)
    val q = opType(op)
    var m: Map[String, Any] = r - "value"
    res.foreach { case (n: Long, h: Long) =>
      m ++= Map("rows" -> n, "hash" -> h, "expected_rows" -> ref(q)._1, "expected_hash" -> ref(q)._2)
    }
    m
  }

  override def extra: Map[String, Any] = Map(
    "results_dir" -> "results",
    "setup_hashes" -> rounds.map { case (q, hs) => q -> hs.map(h => Seq(h._1, h._2)) }.toMap,
    "oracle_sql" -> ref.keys.flatMap(q => Registry.all.find(_.name == q).flatMap(_.sql).map(q -> _)).toMap)

  def layerMetrics(recs: Seq[Map[String, Any]], tr: Tracing): Seq[(String, Double)] = {
    val perQuery = spec.get("queries").elements().asScala.map(_.asText()).toSeq.flatMap { q =>
      val rs = recs.filter(_("type") == q)
      val c = new Counts
      rs.foreach(r => tr.counts(r("i").asInstanceOf[Int]).c.foreach { case (k, v) => c.add(k, v) })
      Seq(
        s"$q.wall_s" -> sumLayer(rs, "wall_s") / math.max(1, rs.size),
        s"$q.driver.jobs" -> c.c("driver.jobs") / math.max(1, rs.size),
        s"$q.driver.executor_cpu_s" -> c.c("driver.executor_cpu_s") / math.max(1, rs.size),
        s"$q.shuffle.write_bytes" -> c.c("shuffle.write_bytes") / math.max(1, rs.size),
        s"$q.codegen.max_method_bytes" -> codegen.get(q).map(_._3).getOrElse(0.0))
    }
    Seq(
      "pme.files_written" -> 0.0,
      "pme.footer_bytes" -> 0.0, "pme.write_overhead_ratio" -> 0.0,
      "pme.read_overhead_ratio" -> 0.0, "bytes_stored_ratio" -> 0.0,
      "write_rows_per_s" -> 0.0, "scan.rows_read_ratio" -> 0.0) ++ perQuery
  }
}
