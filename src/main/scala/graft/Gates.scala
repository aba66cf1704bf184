package graft

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap

/** One oracle gate: a Spark query over an input dir, named once, beside the
  * DuckDB SQL that re-derives its answer from the same inputs. */
final case class Gate(name: String, oracle: String)(
    val run: (SparkSession, String) => DataFrame)

/** The one gate runner behind Bench, Verify, Profile and the specs. */
object Gates {

  /** `gates` unchanged if every name is distinct; otherwise fails naming the
    * repeats (a repeated name would shadow a gate in any by-name view). */
  def distinct(gates: Seq[Gate]): Seq[Gate] = {
    val repeated = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(repeated.isEmpty, s"gate names repeated: ${repeated.toSeq.sorted.mkString(", ")}")
    gates
  }

  /** The gates named, in registry order; all of them when `names` is empty.
    * An unknown name fails naming it instead of selecting nothing. */
  def select(names: Seq[String]): Seq[Gate] = {
    val all = SparkEntry.gates
    val unknown = names.filterNot(all.map(_.name).toSet)
    require(unknown.isEmpty, s"unknown gate: ${unknown.mkString(", ")}")
    if (names.isEmpty) all else all.filter(g => names.contains(g.name))
  }

  /** Run `gate` over `dir` and apply `action` to its frame.
    *
    * The gate runs on `spark.newSession()`: it shares the cache and the
    * SparkContext but not conf, registered functions or optimizer rules, so
    * a rule, catalog or conf a gate installs (r45's `MvRewriteRule`, r63's
    * `StatsJoinRule` and `graft_c63` catalog) is gone for the next one.
    * The child is the active session while the gate runs, because
    * `GraftSnapshotSource` resolves its tables through `SparkSession.active`.
    * Afterwards every operator-internal persist and the JVM-wide
    * `MvRegistry` are released, so no gate plans under another's leftovers. */
  def run[T](spark: SparkSession, gate: Gate, dir: String)(action: DataFrame => T): T =
    isolated(spark)(s => action(gate.run(s, dir)))

  private def isolated[T](spark: SparkSession)(body: SparkSession => T): T = {
    val session = spark.newSession()
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(session)
    try body(session)
    finally {
      prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      release(spark)
    }
  }

  private def release(spark: SparkSession): Unit = {
    graft.operators.LlmOps.clearPlanted()
    graft.operators.Caches.releaseAll()
    spark.catalog.clearCache()
    graft.plans.MvRegistry.clear()
  }

  final case class Job(id: Int, startMs: Long, endMs: Long, desc: String, stages: Seq[Int]) {
    def wallS: Double = (endMs - startMs) / 1e3
  }
  final case class Stage(id: Int, name: String, tasks: Int, cpuS: Double)

  /** What one measured run did: its wall and the Spark jobs and completed
    * stages it started. */
  final case class Run[T](result: Either[Throwable, T], wallS: Double,
      jobs: Seq[Job], stages: Seq[Stage]) {
    def tasks: Int = stages.map(_.tasks).sum
    def taskCpuS: Double = stages.map(_.cpuS).sum
    /** Wall not covered by any job: planning, result fetch and other
      * driver-side work (the wall minus the summed job walls when jobs run
      * one at a time; overlapping jobs count once). */
    def driverGapS: Double = {
      val spans = jobs.map(j => (j.startMs, j.endMs)).sortBy(_._1)
      val (covered, _) = spans.foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        (sum + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
      }
      wallS - covered / 1e3
    }
    def layers: ListMap[String, Any] = ListMap("jobs" -> jobs.size, "tasks" -> tasks,
      "task_cpu_s" -> taskCpuS, "driver_gap_s" -> driverGapS)
  }

  /** [[run]] `reps` times under a SparkListener: per rep, the wall of
    * `action` and the jobs and stages it started. Failures are returned, not
    * thrown, so a caller can record them. The reps share one child session,
    * with the cleanup between them: each session's tasks load generated code
    * through their own class loader, and Spark's codegen cache is keyed by
    * class loader, so a session per rep would recompile every rep (36 of d4's
    * 54 classes at sf0.01, doubling its task CPU). Session setup, cleanup and
    * the listener-bus drains stay outside the timed windows. */
  def measure[T](spark: SparkSession, gate: Gate, dir: String, reps: Int = 1)(
      action: DataFrame => T): Seq[Run[T]] =
    isolated(spark) { s =>
      // planning a one-row query builds the child's catalog, analyzer,
      // optimizer and planner, which the first rep would otherwise pay
      s.range(1).queryExecution.executedPlan
      (1 to reps).map { i =>
        if (i > 1) release(spark)
        timed(s, gate, dir)(action)
      }
    }

  private def timed[T](s: SparkSession, gate: Gate, dir: String)(action: DataFrame => T): Run[T] = {
    val sc = s.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          .orElse(e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, e.time, e.time, desc, e.stageIds)): Unit
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time)): Unit
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val cpuNs = Option(si.taskMetrics).map(_.executorCpuTime).getOrElse(0L)
        stages.put(si.stageId,
          Stage(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks, cpuNs / 1e9)): Unit
      }
    }
    org.apache.spark.sql.graft.ColumnBridge.awaitListeners(sc)
    sc.addSparkListener(listener)
    val t0 = System.nanoTime()
    val result = try Right(action(gate.run(s, dir))) catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.sql.graft.ColumnBridge.awaitListeners(sc)
    sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    Run(result, wall, jobs.values.asScala.toSeq.sortBy(_.id),
      stages.values.asScala.toSeq.sortBy(_.id))
  }

  /** JSON for the gate dumps (Jackson with Scala collections). */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
}
