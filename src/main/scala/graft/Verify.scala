package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each gate's result → parquet, plus
  * oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [query ...] — trailing names restrict the run
    // (dev iteration); the driver passes exactly two and runs everything
    val Array(sfDir, outDir) = args.take(2)
    val selected = Gates.select(args.drop(2).toSeq)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    for (g <- selected) {
      try Gates.run(spark, g, sfDir)(_.coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${g.name}"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${g.name} failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Gates.json.writeValueAsString(SparkEntry.oracleSql))
    spark.stop()
  }
}
