package graft.operators

import graft.{Gates, SparkEntry, SparkSpec}

/** Relational gate queries run against sf0.001 inside sbt test: shape and
  * spot-value assertions so the suite catches regressions without the
  * driver's DuckDB gate. (Full value-level verification is the oracle gate —
  * tools/check_oracle.py.)
  */
class RelationalSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The rows of one gate, through the gate runner. */
  private def gateRows(name: String) =
    Gates.run(spark, Gates.select(Seq(name)).head, dir)(_.collect())

  test("r2_agg: group count and sums (decimal math, double projection)") {
    val rows = gateRows("r2_agg")
    rows.length shouldBe 6 // 3 returnflags × 2 linestatus minus absent combos
    rows.foreach { r =>
      r.getDouble(2) should be >= 0.0
      r.getLong(5) should be > 0L
    }
  }

  test("r12_topk is ordered and bounded") {
    val rows = gateRows("r12_topk")
    rows.length shouldBe 15
    val prices = rows.map(_.getDouble(2))
    prices.toSeq shouldBe prices.sortBy(-_).toSeq
  }

  test("w1/w2 id codec round-trips through the gate queries") {
    val enc = gateRows("w1_id_encode")
    enc.length shouldBe 25
    enc.foreach { r =>
      r.getLong(1) shouldBe r.getLong(0)                 // q
      r.getLong(2) shouldBe r.getLong(0) + 1000000000L   // p
      r.getLong(3) shouldBe r.getLong(0) + 2000000000L   // l
    }
    val dec = gateRows("w2_id_decode")
    dec.length shouldBe 125
    dec.filter(_.getString(1) == "S").foreach(_.getLong(3) shouldBe 3L)
  }

  test("approx_count_distinct tracks exact distinct within 5% (R9 approx path)") {
    import org.apache.spark.sql.functions._
    val li = graft.Tables(spark, dir).lineitem
    val row = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx")).collect().head
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    math.abs(approx - exact).toDouble / exact should be < 0.05
  }

  test("r10_setops: supplier nations are a subset of customer nations") {
    val rows = gateRows("r10_setops")
    val byTag = rows.groupBy(_.getString(1)).view.mapValues(_.map(_.getInt(0)).toSet).toMap
    byTag.keySet should contain("both")
    (byTag.getOrElse("both", Set()) intersect byTag.getOrElse("cust_only", Set())) shouldBe empty
  }

  test("r38: a runtime bloom filter lands on the fact side under forced thresholds (R38)") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
      // on the spec session itself: the forced thresholds are its conf
      val df = SparkEntry.queries("r38_bloom_join")(spark, dir)
      val plan = df.queryExecution.executedPlan.toString.toLowerCase
      withClue(plan.take(800)) { plan should include("bloom") }
      // and the optimization is semantics-preserving
      df.collect().map(_.getLong(1)).sum should be > 0L
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("r33_dpp: the fact scan carries a dynamicpruning partition filter (R33)") {
    val (plan, rows) = Gates.run(spark, Gates.select(Seq("r33_dpp")).head, dir) { df =>
      (df.queryExecution.executedPlan.toString, df.collect())
    }
    // the runtime-injected subquery shows up in the scan's PartitionFilters
    plan.toLowerCase should include("dynamicpruning")
    // and the result is the single ASIA-mapped year
    rows.length shouldBe 1
    rows.head.getInt(0) shouldBe 1996
    rows.head.getString(1) shouldBe "ASIA"
  }
}
