package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the coverage inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("r3_join_agg")(spark, "/root/testdata/sf0.001")

  /** Every gate, one per implemented operator from SURVEY.md §2, each with
    * equivalent ANSI SQL runnable by DuckDB on the same parquet tables (the
    * ETL gates read the checked-in mini-dump by absolute path instead). */
  def gates: Seq[Gate] = Gates.distinct(Relational.gates ++ LlmOps.gates ++
    graft.streaming.StreamingGates.gates ++ graft.wikidata.EtlGates.gates)

  def queries: Map[String, (SparkSession, String) => DataFrame] = gates.map(g => g.name -> g.run).toMap

  def oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap
}
