package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in a fresh JVM.
  *
  * Usage: graftbench.Main --workload W --data DIR --work DIR --seconds S
  *          --trace 0|1 --out RESULT.json [--spans SPANS.jsonl] [--cpus N]
  *
  * `DIR` holds the inputs and `truth.json` made by gen.py; the run writes
  * its tables under `--work` and its result (metrics, failures, host
  * facts) as one JSON object to `--out`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = opt.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = graft.GraftSession.local(cpus)
    val sessionS = (Clock.nowMs - jvmStart) / 1e3
    val tracing = opt.getOrElse("trace", "0") == "1"
    val rec = Recorder.install(spark, tracing)
    val ctx = Ctx(spark, rec, new Tracer(spark.sparkContext, tracing), cpus,
      opt("data"), opt("work"), opt("seconds").toDouble, sessionS)
    // the inputs are generated while the session starts
    val ready = new File(s"${ctx.data}/READY")
    val deadline = Clock.nowMs + 120000
    while (!ready.exists() && Clock.nowMs < deadline) Thread.sleep(20)
    val truth = Check.readJson(s"${ctx.data}/truth.json")
    val result = opt("workload") match {
      case "query_mix" => Workloads.queryMix(ctx, truth)
      case "refresh_mix" => Workloads.refreshMix(ctx, truth)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val layers = if (tracing) {
      rec.drain()
      val self = opt.get("spans").map(ctx.tracer.write).getOrElse(Map.empty)
      result.layers(new Layers(ctx.tracer, rec, cpus)) ++
        self.map { case (l, s) => s"self_s.$l" -> s }
    } else Map.empty[String, Double]
    val sc = spark.sparkContext
    val storageMax = sc.getExecutorMemoryStatus.values.map(_._1).sum
    val host = Map(
      "cpus" -> cpus, "spark_version" -> spark.version,
      "heap_mb" -> Runtime.getRuntime.maxMemory / Layers.MB,
      "storage_memory_mb" -> storageMax / Layers.MB,
      "input_mb" -> result.inputBytes / Layers.MB,
      "input_over_storage" -> result.inputBytes.toDouble / storageMax)
    val json = Check.json.writeValueAsString(Map(
      "attempted" -> result.run.attempted, "failed" -> result.run.failed,
      "failures" -> result.run.failures.take(20).toSeq,
      "e2e" -> result.e2e, "layers" -> layers,
      "detail" -> (result.detail ++ Map("session_s" -> ctx.sessionS,
        "setup_rounds_s" -> ctx.setupRounds, "warmup_s" -> ctx.warmS,
        "op_cpu_ms" -> ctx.opCpuMs.toSeq, "op_cpu_p50_ms" -> Stats.median(ctx.opCpuMs.toSeq),
        "measured_s" -> ctx.measuredS, "loop_wall_s" -> ctx.loopWallS,
        "step_ms" -> ctx.steps.map { case (k, ms) => Seq(k, ms) },
        "jvm_wall_s" -> (Clock.nowMs - jvmStart) / 1e3)),
      "host" -> host))
    Files.write(Paths.get(opt("out")), json.getBytes("UTF-8"))
    spark.stop()
  }
}

final case class Ctx(spark: SparkSession, rec: Recorder, tracer: Tracer, cpus: Int,
    data: String, work: String, seconds: Double, sessionS: Double) {
  var setupRounds: Seq[Double] = Nil
  var loopWallS = 0.0
  var warmS = 0.0
  var measuredS = 0.0
  var steps: Seq[(String, Double)] = Nil
  val opCpuMs = mutable.ArrayBuffer.empty[Double]
}

/** Attempted/failed bookkeeping of one run. */
final class RunLog {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Record one attempted operation; a non-empty `problems` fails it. */
  def record(what: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      failures += s"$what: ${problems.mkString("; ")}"
    }
  }
}

final case class Result(run: RunLog, e2e: Map[String, Double],
    detail: Map[String, Any], inputBytes: Long, layers: Layers => Map[String, Double])

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of the usual percentiles with at least ten samples
    * beyond it, as (percentile, value); None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => s.size * (1 - p / 100) >= 10).map { p =>
      val rank = math.ceil(p / 100 * s.size).toInt.max(1) - 1
      (p, s(rank))
    }
  }

  /** p50 and tail of a named sample, as detail entries. */
  def summary(name: String, xs: Seq[Double]): Map[String, Any] = {
    val t = tail(xs)
    Map(s"${name}_p50_ms" -> median(xs), s"${name}_n" -> xs.size,
      s"${name}_tail_ms" -> t.map(_._2), s"${name}_tail_pct" -> t.map(_._1))
  }
}

object Util {
  /** CPU time of this JVM (all threads: scheduler and local executors). */
  def processCpuMs(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def timedMs[T](body: => T): (Double, T) = {
    val t0 = Clock.nowMs
    val r = body
    (Clock.nowMs - t0, r)
  }

  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      } finally s.close()
    }
  }

  /** Wait (outside every timed window) until asynchronous unpersists have
    * brought storage memory back to `level`, so one op's cache cannot
    * overlap the next op's. */
  def settleStorage(rec: Recorder, level: Long): Unit = {
    val deadline = Clock.nowMs + 3000
    while (rec.storageNow > level && Clock.nowMs < deadline) Thread.sleep(10)
  }

  def problemOf(e: Throwable): Seq[String] =
    Seq(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")

  def text(n: JsonNode, field: String): String = n.get(field).asText()

  def guard[T](what: String, log: RunLog)(body: => T): Option[T] =
    try Some(body)
    catch { case NonFatal(e) => log.record(what, problemOf(e)); None }
}
