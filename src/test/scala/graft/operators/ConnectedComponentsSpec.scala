package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side union-find reference (test-only; the operator itself never
    * collects). */
  private def referenceComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def runAndCompare(edges: Seq[(Long, Long)]): Unit = {
    val got = ConnectedComponents.run(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Caches.releaseAll()
    got shouldBe referenceComponents(edges)
  }

  test("chains, cycles, stars and singleton-free graphs (D6)") {
    // long chain (diameter >> rounds exercises the log-round contraction),
    // a cycle, a star, an isolated pair
    val chain = (0L until 30L).map(i => (i * 7 + 3, (i + 1) * 7 + 3)) // ids not contiguous
    val cycle = Seq((100L, 101L), (101L, 102L), (102L, 100L))
    val star  = (1L to 5L).map(i => (200L, 200L + i))
    val pair  = Seq((999L, 998L))
    runAndCompare(chain ++ cycle ++ star ++ pair)
  }

  test("random graphs match union-find across densities (D6)") {
    val rng = new scala.util.Random(42)
    for (density <- Seq(0.3, 1.0, 2.5)) {
      val n = 200
      val m = (n * density).toInt
      val edges = Seq.fill(m)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      runAndCompare(edges)
    }
  }

  test("self-loops and duplicate edges are ignored; labels() fills singletons (D6)") {
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 3L), (2L, 1L), (4L, 5L))
    val nodes = (1L to 7L).toDF("id")
    val got = ConnectedComponents.labels(nodes, edges.toDF("x", "y"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Caches.releaseAll()
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 4L, 6L -> 6L, 7L -> 7L)
  }


  test("the checkpoint fingerprint rejects float, double and map columns; CC still converges") {
    import org.apache.spark.sql.graft.ColumnBridge
    val doubles = Seq((1L, 0.5), (2L, -0.0)).toDF("id", "w")
    val e = intercept[IllegalArgumentException](ColumnBridge.localCheckpointFingerprinted(doubles))
    e.getMessage should include ("w")
    e.getMessage should include ("DoubleType")
    intercept[IllegalArgumentException](ColumnBridge.localCheckpointFingerprinted(
      Seq((1L, 1.5f)).toDF("id", "f")))
    intercept[IllegalArgumentException](ColumnBridge.localCheckpointFingerprinted(
      Seq((1L, Map("a" -> 1L))).toDF("id", "m")))
    runAndCompare(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
  }
}
