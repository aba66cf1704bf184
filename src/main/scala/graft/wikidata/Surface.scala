package graft.wikidata

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Which Wikidata tables a run produces. The surface is chosen once, where
  * dump or changeset lines are parsed ([[DumpReader.read]],
  * [[IncrementalEtl.readChangeset]]); every later step reads it back from
  * the parsed frame with [[Surface.of]], so no step can disagree with the
  * parse.
  *
  *  - `Core`: the reference's 8 tables (src/value.rs:63-112).
  *  - `Qualified`: + the W34 `qualifiers` table and the `statements` spine
  *    (10 tables).
  *  - `Full`: + the W51/W52 `sitelinks` and `aliases` tables and the W59
  *    `references` table (13 tables, the W54 one-pass run).
  *
  * Each parse schema is PRUNED to what its tables consume: everything else a
  * real dump carries — the other ~300 languages of labels, and below `Full`
  * the aliases, sitelinks, qualifiers and references — is tokenized past
  * without building values, so the 8-table path pays only for the minimal
  * parse. Only the polymorphic `datavalue.value` (string OR one of five
  * object shapes) stays a nested VariantType, cast once per snak downstream.
  */
sealed abstract class Surface(private val level: Int) {
  import Surface._

  private def includes(that: Surface): Boolean = level >= that.level

  /** The tables a run over this surface produces, in the reference's order
    * followed by each wider surface's additions. */
  lazy val tableNames: Seq[String] =
    Seq("meta", "string", "entity", "coordinates", "quantity", "time", "none", "unknown") ++
      (if (includes(Qualified)) Seq("qualifiers", "statements") else Nil) ++
      (if (includes(Full)) Seq("sitelinks", "aliases", "references") else Nil)

  /** The pruned dump-entity schema [[DumpReader]] parses into. A statement
    * keeps its rank (for the deprecated drop) and mainsnak; from `Qualified`
    * on also its stable id and qualifier snaks (a qualifier IS a snak hung
    * off a statement, its property on the enclosing map key exactly like
    * the claims map); at `Full` also its reference records (one per cited
    * source, each a snak map shaped like the qualifiers), and the entity
    * keeps every language's aliases and its sitelinks. */
  lazy val entitySchema: StructType = {
    val statement = StructType(
      (if (includes(Qualified)) Seq(StructField("id", StringType)) else Nil) ++
        Seq(StructField("rank", StringType), StructField("mainsnak", snak)) ++
        (if (includes(Qualified)) Seq(StructField("qualifiers", snakMap)) else Nil) ++
        (if (includes(Full)) Seq(StructField("references", ArrayType(StructType(Seq(
          StructField("snaks", snakMap)))))) else Nil))
    StructType(Seq(
      StructField("id", StringType),
      StructField("labels", english),
      StructField("descriptions", english),
      StructField("claims", MapType(StringType, ArrayType(statement)))) ++
      (if (includes(Full)) Seq(
        StructField("aliases", MapType(StringType, ArrayType(StructType(Seq(
          StructField("value", StringType)))))),
        StructField("sitelinks", MapType(StringType, StructType(Seq(
          StructField("title", StringType)))))) else Nil))
  }

  /** The changeset schema [[IncrementalEtl]] parses into: the entity
    * schema plus revision metadata. A deletion marker carries only
    * (id, lastrevid, deleted). */
  lazy val changeSchema: StructType =
    StructType(entitySchema.fields ++ changeFields)
}

object Surface {
  case object Core extends Surface(0)
  case object Qualified extends Surface(1)
  case object Full extends Surface(2)

  val all: Seq[Surface] = Seq(Core, Qualified, Full)

  /** One snak, pruned: snaktype for value routing, the polymorphic value
    * as variant. Shared by mainsnaks, qualifier and reference snaks. */
  private val snak = StructType(Seq(
    StructField("snaktype", StringType),
    StructField("datavalue", StructType(Seq(
      StructField("type", StringType),
      StructField("value", VariantType))))))

  private val snakMap = MapType(StringType, ArrayType(snak))

  private val english = StructType(Seq(
    StructField("en", StructType(Seq(StructField("value", StringType))))))

  private val changeFields = Seq(
    StructField("lastrevid", LongType),
    StructField("deleted", BooleanType))

  /** The surface whose entity or changeset schema has `schema`'s layout
    * (field names at every depth; nullability is not compared). */
  def of(schema: StructType): Surface = {
    val entity = StructType(schema.filterNot(f => changeFields.exists(_.name == f.name)))
    all.find(s => layout(s.entitySchema) == layout(entity)).getOrElse(
      throw new IllegalArgumentException(
        s"not a parsed Wikidata entity or changeset schema: ${schema.simpleString}"))
  }

  /** The surface of a parsed frame: its one struct column is the entity
    * (`entity` from [[DumpReader]]) or the changeset revision (`c`). */
  def of(frame: DataFrame): Surface =
    frame.schema.map(_.dataType).collect { case s: StructType => s } match {
      case Seq(parsed) => of(parsed)
      case _ => throw new IllegalArgumentException(
        s"expected one parsed entity struct column, got ${frame.schema.simpleString}")
    }

  private def layout(t: DataType): Any = t match {
    case s: StructType => s.fields.toSeq.map(f => f.name -> layout(f.dataType))
    case ArrayType(e, _) => layout(e)
    case MapType(_, v, _) => layout(v)
    case _ => ()
  }
}
