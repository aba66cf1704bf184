package graft

import java.nio.file.{Files, Path, Paths}

/** Fixed, reusable scratch directories for gate queries that must write to
  * disk (sink round-trips, compaction, CDC state). These used to draw a
  * fresh `Files.createTempDirectory` per invocation, which leaked one full
  * copy of the written data per Verify/Bench run — repeated rounds grew
  * /tmp without bound. A fixed per-name path, deleted and recreated on each
  * use, bounds total scratch at one live copy per gate.
  *
  * The root is namespaced PER PROCESS: two concurrent JVMs (an sbt test
  * run racing a Verify run) used to collide on the shared per-name paths —
  * one JVM's delete-recreate raced the other's in-flight write job, and a
  * gate read back an empty table. Dead processes' roots are reaped at
  * first use (via /proc liveness), so the storage bound survives the
  * namespacing. */
object Scratch {

  private val root: Path = {
    val base = Paths.get(sys.props("java.io.tmpdir"), "graft_scratch")
    // reap scratch roots of processes that no longer exist — bounded
    // growth across JVMs without racing a LIVE sibling
    if (Files.isDirectory(base) && Files.isDirectory(Paths.get("/proc"))) {
      val s = Files.list(base)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.foreach { d =>
          val n = d.getFileName.toString
          if (n.startsWith("pid-") &&
              !Files.exists(Paths.get("/proc", n.stripPrefix("pid-"))))
            try deleteRecursively(d) catch { case _: Exception => () }
          // pre-namespacing layout (bare gate names at the root): stale by
          // definition once any namespaced JVM runs — reap those too
          if (!n.startsWith("pid-"))
            try deleteRecursively(d) catch { case _: Exception => () }
        }
      } finally s.close()
    }
    base.resolve(s"pid-${ProcessHandle.current().pid()}")
  }

  /** Delete-then-recreate the fixed scratch dir for `name`; returns its
    * absolute path. NOT for concurrent callers sharing a name WITHIN one
    * JVM — gates run sequentially in Verify/Bench, and specs use distinct
    * names; cross-JVM isolation comes from the per-process root. */
  def fresh(name: String): String = {
    val dir = root.resolve(name)
    deleteRecursively(dir)
    Files.createDirectories(dir)
    dir.toString
  }

  /** A fresh watched directory `name` holding one file per shard, named
    * `shard-00000.parquet`, `shard-00001.parquet`, … in landing order: read
    * through [[graft.streaming.BatchTags.start]], shard i is micro-batch i. Each frame is written through `coalesce(1)` to a staging
    * dir, and its one part file is moved in. Returns the directory. */
  def shards(name: String, frames: Seq[org.apache.spark.sql.DataFrame]): String = {
    val dir = fresh(name)
    frames.zipWithIndex.foreach { case (df, i) =>
      val stage = fresh(s"${name}_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val s = Files.list(Paths.get(stage))
      val part = try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.find { p =>
          val n = p.getFileName.toString
          n.startsWith("part-") && n.endsWith(".parquet")
        }.getOrElse(sys.error(s"no part file written under $stage"))
      } finally s.close()
      Files.move(part, Paths.get(dir, f"shard-$i%05d.parquet"))
    }
    dir
  }

  /** [[shards]] for text: `lines` cut into `n` contiguous text shards
    * (`shard-00000.jsonl`, …) in a fresh directory `name`. */
  def shards(name: String, lines: Seq[String], n: Int): String = {
    val dir = fresh(name)
    lines.grouped(math.max(1, (lines.size + n - 1) / n)).zipWithIndex.foreach {
      case (chunk, i) => Files.write(Paths.get(dir, f"shard-$i%05d.jsonl"),
        chunk.mkString("\n").getBytes("UTF-8"))
    }
    dir
  }

  private def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    } finally walk.close()
  }
}
