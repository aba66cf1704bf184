package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.perfDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
    val selected =
      if (args.nonEmpty) SparkEntry.queries.view.filterKeys(args.toSet).toMap
      else SparkEntry.queries
    // median-of-N per query: the host has multi-second iowait noise from
    // outside the container (SURVEY §6 forensics: identical back-to-back
    // runs swing 2× with per-query outliers like r7 1.4→7.2 s), so a
    // single-run time is not evidence. The median of 3 discards one
    // arbitrary stall per query; min/max spread is emitted so a noisy
    // median is visible instead of needing forensics.
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(_.toIntOption).getOrElse(3).max(1)
    // deterministic name order: hash-map iteration order would otherwise
    // decide which query pays shared-cache warmup (d2's persisted
    // signatures feed d4), making totals jump run to run
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // a failed query must NOT silently bench as a fast no-op — record it
        val err = try { fn(spark, sfDir).count(); None } catch {
          case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // release every operator-internal cache OUTSIDE the timed window:
        // each rep pays its own staging cost (reps stay independent), and
        // leaked storage blocks must not squeeze later queries' execution
        // memory (the round-2 p1/d3 regressions were exactly this
        // accumulation across 51 queries)
        graft.operators.LlmOps.clearPlanted()
        graft.operators.Caches.releaseAll()
        spark.catalog.clearCache()
        (dt, err)
      }
      // median over SUCCESSFUL reps only: a fast failure (e.g. an analysis
      // error thrown before any job runs) would otherwise drag the median
      // below the query's real cost while the error goes half-noticed. If
      // every rep failed, fall back to all timings so the entry still
      // carries a number alongside its error.
      val ok = runs.collect { case (dt, None) => dt }
      val times = (if (ok.nonEmpty) ok else runs.map(_._1)).sorted
      val median = times(times.size / 2)
      val err = runs.flatMap(_._2).headOption
      (name, median, times.head, times.last, err)
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val qs = results.map { case (k, v, _, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, _, lo, hi, _) => s"\"$k\":[$lo,$hi]" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, _, Some(m)) => s"${jstr(k)}:${jstr(m)}" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"reps":$reps,"errors":$errs,"sf":"$sfDir"}"""
    // the full dump goes to a file named per CPU count, so a c8 run does
    // not overwrite the c32 one; stdout only gets a compact line, because
    // the full line (~19 KB at 249 gates) reaches the caller truncated
    // (BENCH_r07/PERF_r10/PERF_r11 lost their per-query figures that way).
    // Path overridable for ad-hoc runs.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"BENCH_selfdump_c$cpus.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out), (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] selfdump write failed: $e") }
    val medianMs = results.map { case (k, v, _, _, _) => s"${jstr(k)}:${math.round(v * 1e3)}" }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, _, _, Some(_)) => jstr(k) }.mkString("[", ",", "]")
    // loud on stderr, but still exit 0: the caller parses the last line
    results.foreach { case (k, _, _, _, e) => e.foreach(m => System.err.println(s"[bench] $k FAILED: $m")) }
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},""" +
      s""""errors":$failed,"median_ms":$medianMs,"dump":${jstr(out)}}""")
    spark.stop()
  }
}
