package graft
import scala.collection.immutable.ListMap
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    // untimed warmup: session/codegen/JIT/parquet-footer AND page-cache
    // costs land here, not on whichever query happens to run first. The
    // host shows multi-second iowait noise; a full-column scan of every
    // table (xxhash64 forces decode of all pages — count() alone reads
    // only footers) pins the small sf inputs in page cache so timed
    // windows measure compute, not disk contention.
    locally {
      import org.apache.spark.sql.functions.{col, count}
      new java.io.File(sfDir).listFiles((_, n) => n.endsWith(".parquet"))
        .foreach { f =>
          try {
            val df = spark.read.parquet(f.getPath)
            // count(col) per column null-checks every value → decodes every
            // page of every column, regardless of type
            df.select(df.columns.map(c => count(col(c))).toSeq: _*).collect()
          } catch { case _: Throwable => () }
        }
    }
    // median-of-N per query: the host has multi-second iowait noise from
    // outside the container (SURVEY §6 forensics: identical back-to-back
    // runs swing 2× with per-query outliers like r7 1.4→7.2 s), so a
    // single-run time is not evidence. The median of 3 discards one
    // arbitrary stall per query; min/max spread is emitted so a noisy
    // median is visible instead of needing forensics.
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(_.toIntOption).getOrElse(3).max(1)
    // name order, as earlier Bench runs used: JIT and codegen warm up in
    // the same gate order, so per-gate medians stay comparable with them
    val results = Gates.select(args.toSeq).sortBy(_.name).map { g =>
      // the reps release their caches outside the timed windows: reps stay
      // independent, and leaked storage blocks must not squeeze later
      // queries' execution memory (the round-2 p1/d3 regressions were
      // exactly this accumulation across 51 queries)
      val runs = Gates.measure(spark, g, sfDir, reps)(_.count())
      // a failed query must NOT silently bench as a fast no-op — record it.
      // Median over SUCCESSFUL reps only: a fast failure (e.g. an analysis
      // error thrown before any job runs) would otherwise drag the median
      // below the query's real cost while the error goes half-noticed. If
      // every rep failed, fall back to all timings so the entry still
      // carries a number alongside its error.
      val ok = runs.filter(_.result.isRight)
      val times = (if (ok.nonEmpty) ok else runs).sortBy(_.wallS)
      val median = times(times.size / 2)
      val err = runs.flatMap(_.result.left.toOption).headOption.map(e =>
        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
      (g.name, median, times.head.wallS, times.last.wallS, err)
    }
    val total = results.map(_._2.wallS).sum
    // per-gate layer metrics of the median rep go to the dump only
    val line = Gates.json.writeValueAsString(ListMap(
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> ListMap(results.map { case (k, m, _, _, _) => k -> m.wallS }: _*),
      "spread" -> ListMap(results.map { case (k, _, lo, hi, _) => k -> Seq(lo, hi) }: _*),
      "layers" -> ListMap(results.map { case (k, m, _, _, _) => k -> m.layers }: _*),
      "reps" -> reps,
      "errors" -> ListMap(results.collect { case (k, _, _, _, Some(e)) => k -> e }: _*),
      "sf" -> sfDir))
    // the full dump goes to a file named per CPU count, so a c8 run does
    // not overwrite the c32 one; stdout only gets a compact line, because
    // the full line (~19 KB at 249 gates) reaches the caller truncated
    // (BENCH_r07/PERF_r10/PERF_r11 lost their per-query figures that way).
    // Path overridable for ad-hoc runs.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"BENCH_selfdump_c$cpus.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out), (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] selfdump write failed: $e") }
    // loud on stderr, but still exit 0: the caller parses the last line
    results.foreach { case (k, _, _, _, e) => e.foreach(m => System.err.println(s"[bench] $k FAILED: $m")) }
    println(Gates.json.writeValueAsString(ListMap(
      "metric" -> "total", "value" -> total, "unit" -> "sec", "n" -> results.size,
      "errors" -> results.collect { case (k, _, _, _, Some(_)) => k },
      "median_ms" -> ListMap(results.map { case (k, m, _, _, _) => k -> math.round(m.wallS * 1e3) }: _*),
      "dump" -> out)))
    spark.stop()
  }
}
