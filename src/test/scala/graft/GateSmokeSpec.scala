package graft

import org.apache.spark.sql.SparkSession

/** Every gate must RUN inside `sbt test`, not only under the driver's
  * Verify: a gate that compiles but fails at runtime (bad column,
  * unreadable scratch path, broken stream wiring) should be caught here,
  * before a driver round burns on it. Values stay the DuckDB oracle's job;
  * this asserts execution, through the same runner as Verify and Bench.
  */
class GateSmokeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  for ((group, gates) <- Seq(
      "relational" -> graft.operators.Relational.gates,
      "llm" -> graft.operators.LlmOps.gates,
      "streaming" -> graft.streaming.StreamingGates.gates,
      "etl" -> graft.wikidata.EtlGates.gates)) {
    test(s"every $group gate query runs at sf0.001 (${gates.size} gates)") {
      for (g <- gates.sortBy(_.name)) {
        withClue(s"${g.name}: ") {
          Gates.run(spark, g, dir)(_.limit(1).count()) should be >= 0L
        }
      }
    }
  }

  test("the registry holds 249 distinct gates, each with an oracle") {
    val gates = SparkEntry.gates
    gates.map(_.name).distinct should have size 249
    gates.filter(_.oracle.trim.isEmpty).map(_.name) shouldBe empty
    SparkEntry.queries.keySet shouldBe gates.map(_.name).toSet
    SparkEntry.oracleSql.keySet shouldBe gates.map(_.name).toSet
  }

  test("a repeated gate name or an unknown selection fails, naming it") {
    val g = SparkEntry.gates.head
    val dup = intercept[IllegalArgumentException] {
      Gates.distinct(SparkEntry.gates :+ Gate(g.name, "SELECT 1")((s, _) => s.range(1).toDF()))
    }
    dup.getMessage should include(g.name)
    val unknown = intercept[IllegalArgumentException](Gates.select(Seq("r3_join_agg", "r3_joinagg")))
    unknown.getMessage should include("r3_joinagg")
    Gates.select(Seq("r2_agg", "r1_pushdown")).map(_.name) shouldBe Seq("r1_pushdown", "r2_agg")
    Gates.select(Nil) should have size 249
  }

  private def optimized(caller: SparkSession, name: String): String =
    Gates.run(caller, Gates.select(Seq(name)).head, dir)(
      _.queryExecution.optimizedPlan.toString.replaceAll("#\\d+L?", "#N"))

  // r63 attaches `StatsJoinRule` and sets `graft_c63` catalog confs, r45
  // attaches `MvRewriteRule` and fills the JVM-wide `MvRegistry`: through
  // the runner none of it reaches the calling session, and a later gate
  // plans as it does alone. The caller is a fresh session, not the shared
  // one, which other specs (StatsJoinRuleSpec, MvRewriteSpec) attach these
  // same rules to directly.
  test("r63 then r45 leave no rule, conf or registry entry behind") {
    val caller = spark.newSession()
    caller.experimental.extraOptimizations shouldBe empty
    val alone = optimized(caller, "r3_join_agg")
    for (name <- Seq("r63_stats_sql_join", "r45_mv_rewrite"))
      Gates.run(caller, Gates.select(Seq(name)).head, dir)(_.count())
    withClue("extraOptimizations: ") {
      caller.experimental.extraOptimizations.map(_.getClass.getSimpleName) shouldBe empty
    }
    withClue("graft_c63 catalog conf: ") {
      caller.conf.getOption("spark.sql.catalog.graft_c63") shouldBe None
    }
    withClue("MvRegistry: ") { graft.plans.MvRegistry.isEmpty shouldBe true }
    optimized(caller, "r3_join_agg") shouldBe alone
  }
}
