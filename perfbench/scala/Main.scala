package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One timed operation as the end-to-end metrics see it. `kind` is
  * `read`, `write` or `compute`; bytes are on-disk sizes. */
final case class OpRecord(name: String, kind: String, ms: Double, ok: Boolean,
    error: String, bytesRead: Long, bytesWritten: Long)

/** Per-operation layer counters, filled only in the traced segment. */
final case class Ledger(name: String, wallMs: Double, jobs: Long, stages: Long,
    tasks: Long, jobMs: Double, taskMs: Double, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, inputBytes: Long, inputRecords: Long,
    outputBytes: Long, gcMs: Long, phases: Map[String, Double],
    taskInputBytes: Seq[Long])

/** A workload: per-setup input generation and warm-up, a one-off prime,
  * and rounds (a pass or a cycle) run back to back. */
trait Workload {
  def prepare(b: Bench): Unit
  def warmup(b: Bench): Unit
  def prime(b: Bench): Unit
  def round(b: Bench): Unit
  /** Layer metrics this workload computes itself from its spans/ledgers. */
  def layerMetrics(b: Bench): Map[String, Double] = Map.empty
}

/** Shared state of one benchmark process. */
final class Bench(val plan: JsonNode, val work: String) {
  val wh: String = plan.get("warehouse").asText
  val cores: Int = plan.get("cores").asInt
  val tracer = new Tracer
  val counters = new SparkCounters
  var spark: SparkSession = _
  var setupIndex = 0
  val records = mutable.ArrayBuffer.empty[OpRecord]
  val ledgers = mutable.ArrayBuffer.empty[Ledger]
  /** Extra per-call samples keyed by layer metric name (traced only). */
  val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  /** Untimed findings reported with the run (e.g. the size-mode probe). */
  val probes = mutable.LinkedHashMap.empty[String, Double]
  private var opSeq = 0

  def sample(name: String, v: Double): Unit =
    if (tracer.enabled) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def newSession(): SparkSession = {
    val dir = s"$work/setup-$setupIndex"
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .getOrCreate()
  }

  /** Run one operation: `body` is timed and returns the check to run
    * afterwards (untimed) plus the on-disk bytes it read and wrote. */
  def op(name: String, kind: String)(body: => Outcome): Unit = {
    val id = opSeq
    opSeq += 1
    tracer.beginOp(id)
    if (tracer.enabled) counters.reset()
    val gc0 = Jvm.gcMs
    val t0 = System.nanoTime()
    val res = try Right(tracer.span("op") { body })
      catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    if (tracer.enabled) {
      PerfbenchBus.drain(spark.sparkContext)
      val c = counters
      c.synchronized {
        ledgers += Ledger(name, ms, c.jobs, c.stages, c.tasks, c.jobMs,
          c.taskNs / 1e6, c.shuffleRead, c.shuffleWrite, c.spill, c.inputBytes,
          c.inputRecords, c.outputBytes, Jvm.gcMs - gc0, c.phasesMs.toMap,
          c.taskInputBytes.toSeq)
      }
    }
    val rec = res match {
      case Left(e) =>
        OpRecord(name, kind, ms, ok = false, Bench.describe(e), 0L, 0L)
      case Right(out) =>
        val verdict = try out.check() catch { case NonFatal(e) => Some(Bench.describe(e)) }
        OpRecord(name, kind, ms, verdict.isEmpty, verdict.getOrElse(""),
          out.bytesRead, out.bytesWritten)
    }
    if (!rec.ok) System.err.println(s"perfbench: operation $name failed: ${rec.error}")
    records += rec
  }

  def time[A](name: String)(body: => A): A = tracer.span(name)(body)

  def tableBytes(tables: Seq[String]): Long =
    tables.map(t => Bench.dirBytes(Paths.get(s"$wh/$t.parquet"))).sum
}

/** What an operation hands back: its (untimed) correctness check, which
  * returns None when the result is right, and its on-disk traffic. */
final case class Outcome(check: () => Option[String], bytesRead: Long = 0L,
    bytesWritten: Long = 0L)

object Bench {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** On-disk bytes of a file, or of every regular file under a directory. */
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isRegularFile(p)) Files.size(p)
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .filterNot(f => f.getFileName.toString.startsWith("."))
        .map(Files.size).sum
      finally s.close()
    }

  def dataFiles(p: Path): Int =
    if (!Files.exists(p)) 0
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.count(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def main(args: Array[String]): Unit =
    if (args(0) == "--oracle-sql")
      // the DuckDB twins of the given oracle keys, as {key: sql}
      mapper.writeValue(new File(args(1)),
        args.drop(2).map(k => k -> graft.SparkEntry.oracleSql(k)).toMap)
    else run(args)

  private def run(args: Array[String]): Unit = {
    val mainEntryMs = System.currentTimeMillis()
    val planFile = args(0)
    val outFile = args(1)
    val plan = mapper.readTree(new File(planFile))
    val work = plan.get("work").asText
    val b = new Bench(plan, work)
    val w: Workload = plan.get("workload").asText match {
      case "operator_pipeline" => new OperatorPipeline(plan)
      case "connector_roundtrip" => new ConnectorRoundtrip(plan)
      case other => sys.error(s"unknown workload $other")
    }
    val seconds = plan.get("seconds").asDouble
    val traced = plan.get("trace").asInt == 1

    // set-up, repeated: fresh session, warehouse registration, inputs, warm-up
    val setupMs = mutable.ArrayBuffer.empty[Double]
    val registerMs = mutable.ArrayBuffer.empty[Double]
    for (i <- 0 until plan.get("setups").asInt) {
      b.setupIndex = i
      val t0 = System.nanoTime()
      if (b.spark != null) b.spark.stop()
      graft.CacheRegistry.releaseAll()
      graft.connector.StageCache.clearAll()
      b.spark = b.newSession()
      val r0 = System.nanoTime()
      graft.warehouse.Tables.register(b.spark, b.wh)
      registerMs += (System.nanoTime() - r0) / 1e6
      w.prepare(b)
      w.warmup(b)
      setupMs += (System.nanoTime() - t0) / 1e6
    }
    val p0 = System.nanoTime()
    w.prime(b)
    val primeMs = (System.nanoTime() - p0) / 1e6
    b.records.clear()

    // measured segment: whole rounds until `seconds` have passed; after
    // each round (untimed) a full collection reads the live heap
    val t0 = System.nanoTime()
    val until = t0 + (seconds * 1e9).toLong
    var rounds = 0
    var roundsMs = 0.0
    var heapPeakMb = 0.0
    do {
      val r0 = System.nanoTime()
      w.round(b)
      roundsMs += (System.nanoTime() - r0) / 1e6
      rounds += 1
      heapPeakMb = heapPeakMb.max(Jvm.heapAfterGcMb())
    } while (System.nanoTime() < until)
    val untraced = b.records.toList

    val layers = mutable.LinkedHashMap.empty[String, Double]
    var tracedRecords = List.empty[OpRecord]
    if (traced) {
      // the same rounds again, traced: the time ratio is the overhead
      b.records.clear()
      b.counters.attach(b.spark)
      b.tracer.enabled = true
      val t1 = System.nanoTime()
      for (_ <- 1 to rounds) w.round(b)
      val tracedMs = (System.nanoTime() - t1) / 1e6
      b.tracer.enabled = false
      PerfbenchBus.drain(b.spark.sparkContext)
      b.counters.detach(b.spark)
      tracedRecords = b.records.toList
      layers ++= Layers.common(b, registerMs.toSeq)
      layers ++= w.layerMetrics(b)
      layers("trace.overhead_pct") = (tracedMs / roundsMs - 1.0) * 100.0
      writeSpans(b, s"$work/spans.json")
    }
    val all = untraced ++ tracedRecords
    val result = Map(
      "main_entry_ms" -> mainEntryMs,
      "setup_ms" -> setupMs.toSeq,
      "prime_ms" -> primeMs,
      "register_ms" -> registerMs.toSeq,
      "rounds" -> rounds,
      "measured_ms" -> roundsMs,
      "ops" -> untraced.map(r => Map("name" -> r.name, "kind" -> r.kind, "ms" -> r.ms,
        "ok" -> r.ok, "error" -> r.error, "bytes_read" -> r.bytesRead,
        "bytes_written" -> r.bytesWritten)),
      "traced_failed" -> tracedRecords.count(!_.ok),
      "failures" -> all.filterNot(_.ok).map(r => s"${r.name}: ${r.error}").distinct.take(20),
      "heap_peak_mb" -> heapPeakMb,
      "probes" -> b.probes.toMap,
      "layers" -> layers.toMap,
      "self_ms" -> (if (traced) b.tracer.selfMs else Map.empty[String, Double]))
    mapper.writeValue(new File(outFile), result)
    b.spark.stop()
  }

  private def writeSpans(b: Bench, path: String): Unit =
    mapper.writeValue(new File(path), b.tracer.spans.map(s => Map(
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "parent" -> s.parent, "op" -> s.op)).toSeq)
}

/** Layer metrics every workload reports from the traced ledgers. */
object Layers {
  import Bench.mean

  def common(b: Bench, registerMs: Seq[Double]): Map[String, Double] = {
    val l = b.ledgers.toSeq
    def per(f: Ledger => Double): Double = mean(l.map(f))
    val coveredMs = l.map(_.jobMs).sum
    val taskMs = l.map(_.taskMs).sum
    val m = mutable.LinkedHashMap[String, Double](
      "warehouse.register_ms" -> Bench.median(registerMs),
      "catalyst.analysis_ms" -> per(_.phases.getOrElse("analysis", 0.0)),
      "catalyst.optimization_ms" -> per(_.phases.getOrElse("optimization", 0.0)),
      "catalyst.planning_ms" -> per(_.phases.getOrElse("planning", 0.0)),
      "spark.jobs" -> per(_.jobs.toDouble),
      "spark.stages" -> per(_.stages.toDouble),
      "spark.tasks" -> per(_.tasks.toDouble),
      "spark.job_ms" -> per(_.jobMs),
      "spark.driver_gap_ms" -> per(x => (x.wallMs - x.jobMs).max(0.0)),
      "spark.task_ms" -> per(_.taskMs),
      "spark.core_utilization" -> (if (coveredMs > 0) taskMs / (coveredMs * b.cores) else 0.0),
      "spark.shuffle_read_bytes" -> per(_.shuffleRead.toDouble),
      "spark.shuffle_write_bytes" -> per(_.shuffleWrite.toDouble),
      "spark.spill_bytes" -> per(_.spill.toDouble),
      "spark.input_bytes" -> per(_.inputBytes.toDouble),
      "spark.output_bytes" -> per(_.outputBytes.toDouble),
      "jvm.gc_ms" -> per(_.gcMs.toDouble))
    // mean duration of every layer-call span, e.g. connector.read_call_ms
    b.tracer.spans.groupBy(_.name).foreach { case (name, ss) =>
      if (name != "op" && name != "action")
        m(s"${name}_ms") = mean(ss.map(s => (s.endNs - s.startNs) / 1e6))
    }
    b.samples.foreach { case (k, v) => m(k) = mean(v) }
    m.toMap
  }
}
