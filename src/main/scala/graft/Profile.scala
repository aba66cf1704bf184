package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool, one entry point in three modes. Not part of the gate surface.
  *
  *   - `plan <sfDir> [gate ...]`: the formatted physical plan of each gate
  *     (all when none is named), so plan hygiene is auditable: PushedFilters
  *     reaching scans, pruned ReadSchema, broadcast joins on dims,
  *     WholeStageCodegen coverage.
  *   - `jobs <sfDir> gate [gate ...]`: run each gate under the runner's
  *     SparkListener and print where its wall went: jobs grouped by
  *     description, summed job walls against the driver-side gap, and the
  *     top stages by task CPU (the UI is disabled in bench runs).
  *   - `recall <sfDir> [sfDir ...]`: LSH, IVF and IVF-PQ recall against the
  *     exact scan on the natural embeddings corpus, across the parameter
  *     settings behind the ANN gates' recall thresholds.
  *
  * Usage: runMain graft.Profile plan|jobs|recall <sfDir> [...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile plan|jobs|recall <sfDir> [...]")
    val (mode, sfDir, rest) = (args(0), args(1), args.drop(2).toSeq)
    val spark = GraftSession.local()
    try mode match {
      case "plan" =>
        for (g <- Gates.select(rest)) {
          println(s"\n===== ${g.name} =====")
          try println(Gates.run(spark, g, sfDir)(_.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)))
          catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
        }
      case "jobs" =>
        require(rest.nonEmpty, "usage: Profile jobs <sfDir> gate [gate ...]")
        Gates.select(rest).foreach(g => jobs(g.name, Gates.measure(spark, g, sfDir)(_.count()).head))
      case "recall" =>
        (sfDir +: rest).foreach(dir => recall(Tables(spark, dir).embeddings, dir))
      case other => sys.error(s"unknown mode $other: plan|jobs|recall")
    } finally spark.stop()
  }

  private def jobs(name: String, run: Gates.Run[Long]): Unit = {
    println(f"\n===== $name: wall ${run.wallS}%.2f s, ${run.jobs.size} jobs =====")
    run.result.left.foreach(e => println(s"FAILED: $e"))
    val stageOf = run.stages.map(s => s.id -> s).toMap
    val byDesc = run.jobs.groupBy(_.desc.take(90)).map { case (d, js) =>
      val stages = js.flatMap(_.stages.flatMap(stageOf.get))
      (d, js.size, js.map(_.wallS).sum, stages.map(_.tasks).sum, stages.map(_.cpuS).sum)
    }.toSeq.sortBy(-_._3)
    println(f"${"jobs"}%5s ${"wall_s"}%8s ${"tasks"}%6s ${"taskCPU_s"}%9s  desc")
    byDesc.take(30).foreach { case (d, n, w, nt, cpu) =>
      println(f"$n%5d $w%8.2f $nt%6d $cpu%9.2f  $d")
    }
    println(f"sum of job walls: ${run.jobs.map(_.wallS).sum}%.2f s; " +
      f"wall not covered by a job (driver-side): ${run.driverGapS}%.2f s")
    println("top stages by task CPU:")
    run.stages.sortBy(-_.cpuS).take(15).foreach { s =>
      println(f"  stage ${s.id}%5d ${s.tasks}%5d tasks ${s.cpuS}%8.2f s  ${s.name}")
    }
  }

  private def recall(base: DataFrame, dir: String): Unit = {
    import graft.operators.{IvfAnn, IvfPq, Similarity}
    def pairs(df: DataFrame): Set[(Long, Long)] = df.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = base.count()
    val vecs = base.repartition(32)
    val queries = vecs.filter(col("vec_id") < 32)
    val exact = pairs(Similarity.bruteForceTopK(queries, vecs, "vec_id", "embedding", k = 10))
    def recallOf(approx: DataFrame): Double = (exact intersect pairs(approx)).size.toDouble / exact.size
    // planned config first (the production path), then fixed-table rows
    // for comparison against the planner's choice
    val plan = Similarity.lshPlan(n, dim = 64, k = 10)
    val planned = recallOf(Similarity.lshTopK(queries, vecs, "vec_id", "embedding", k = 10, knownN = n))
    println(f"[recall] $dir n=$n lsh planned bits=${plan.bits} r=${plan.radius} " +
      f"tables=${plan.tables} predicted=${plan.predictedRecall}%.4f recall=$planned%.4f")
    for (tables <- Seq(4, 8)) {
      val r = recallOf(Similarity.lshTopK(queries, vecs, "vec_id", "embedding", k = 10,
        tables = tables, knownN = n))
      println(f"[recall] $dir n=$n lsh tables=$tables recall=$r%.4f")
    }
    for ((k, nprobe) <- Seq((8, 2), (8, 3), (16, 4))) {
      val cents = IvfAnn.trainCentroids(vecs, "embedding", k = k, iters = 3, knownN = n)
      val r = recallOf(IvfAnn.topK(queries, vecs, "vec_id", "embedding", cents,
        k = 10, nprobe = nprobe))
      println(f"[recall] $dir n=$n ivf k=$k nprobe=$nprobe recall=$r%.4f")
    }
    // IVF-PQ: same cells/nprobe as the s3 gate row, plus shortlist — with
    // exact re-rank the gap to the ivf row above isolates ADC shortlist loss
    // (true neighbors pushed below `shortlist` by quantization noise)
    for ((m, pk, shortlist) <- Seq((4, 16, 128), (8, 16, 128), (8, 64, 128), (8, 256, 128), (8, 64, 64))) {
      val index = IvfPq.build(vecs, "embedding", cells = 8, m = m, k = pk, knownN = n)
      val enc = IvfPq.encode(vecs, "vec_id", "embedding", index)
      val r = recallOf(IvfPq.search(queries, enc, vecs, "vec_id", "embedding", index,
        k = 10, nprobe = 3, shortlist = shortlist))
      println(f"[recall] $dir n=$n ivfpq cells=8 nprobe=3 m=$m k=$pk " +
        f"shortlist=$shortlist recall=$r%.4f")
    }
    base.sparkSession.catalog.clearCache()
  }
}
