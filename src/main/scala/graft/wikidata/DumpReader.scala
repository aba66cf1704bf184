package graft.wikidata

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Wikidata JSON dump framing, distributed.
  *
  * The reference reads the dump line-by-line on one core, skipping the `[` /
  * `]` array delimiter lines, dropping a trailing comma per line, and
  * tolerating malformed lines (reference: src/main.rs:174-215). Here the same
  * framing is a `spark.read.text` scan — splittable, so a 100 TB dump fans
  * out across every executor — followed by codegen'd string cleanup and ONE
  * `from_json` parse into the [[Surface]]'s PRUNED typed struct: only the
  * fields its tables consume are materialized, everything else is tokenized
  * past without building values. That pruning is the single-node throughput
  * lever: a full-variant parse (`try_parse_json`) pays to encode the whole
  * entity. Malformed lines yield null `id` (PERMISSIVE parse) and are
  * filtered, never fatal, matching the reference's per-line error tolerance.
  */
object DumpReader {

  /** Raw dump lines → one pruned-struct column `entity`, malformed lines
    * (null id — the reference can't emit anything without one) dropped. */
  def entities(lines: DataFrame, surface: Surface = Surface.Core): DataFrame =
    parse(lines, surface.entitySchema, "entity")

  /** The line framing shared by dumps and changesets
    * ([[IncrementalEtl.changesFrom]]): skip blank and `[`/`]` lines, strip
    * a trailing comma, parse into `schema` as column `as`, drop lines
    * without an id. */
  private[wikidata] def parse(lines: DataFrame, schema: StructType, as: String): DataFrame = {
    val trimmed = trim(col("value"))
    lines
      .filter(trimmed =!= "" && trimmed =!= "[" && trimmed =!= "]")
      .select(from_json(regexp_replace(trimmed, ",$", ""), schema).as(as))
      .filter(col(as).isNotNull && col(s"$as.id").isNotNull)
  }

  /** Read a dump into entity structs of `surface`. `path` may be one file, a
    * shard directory, or a glob; compressed shards (`.gz`, `.bz2` — the
    * official Wikidata dump shipping formats) decode transparently through
    * the Hadoop codecs, and bz2 is SPLITTABLE, so one multi-GB `.bz2` dump
    * file parallelizes across executors without pre-decompression (gz is
    * not — shard gz inputs). Gate `w50_compressed_dump` certifies
    * mixed-codec shard ingestion. */
  def read(spark: SparkSession, path: String, surface: Surface = Surface.Core): DataFrame =
    entities(spark.read.text(path), surface)

  /** `read` at [[Surface.Full]]; the benchmark calls it. */
  def readFull(spark: SparkSession, path: String): DataFrame = read(spark, path, Surface.Full)

  /** Parse an in-memory dataset of dump lines (tests, streaming sources). */
  def fromLines(spark: SparkSession, lines: Seq[String],
                surface: Surface = Surface.Core): DataFrame = {
    import spark.implicits._
    entities(lines.toDF("value"), surface)
  }
}
