package graft.wikidata

import graft.SparkSpec
import org.apache.spark.sql.Row

/** End-to-end ETL semantics against a synthetic dump that exercises every
  * value route of reference src/value.rs:201-261 plus the framing rules of
  * src/main.rs:174-215 and the README "red fruits" query (README.md:103-156).
  */
class WikidataEtlSpec extends SparkSpec {

  // A dump fixture in real wikidata dump shape: JSON array, one entity per
  // line, trailing commas, plus one garbage line that must be skipped.
  private val dumpLines: Seq[String] = Seq(
    "[",
    // Q3142 "red": plain entity with label+description
    """{"id":"Q3142","type":"item","labels":{"en":{"language":"en","value":"red"}},"descriptions":{"en":{"language":"en","value":"color"}},"claims":{}},""",
    // Q3314483 "fruit": label only (null description)
    """{"id":"Q3314483","type":"item","labels":{"en":{"language":"en","value":"fruit"}},"descriptions":{},"claims":{}},""",
    // Q89 apple: color=red (P462), subclass-of=fruit (P279), one deprecated claim that must be dropped,
    // plus a string claim, a coordinate, a quantity with unit, a time, novalue and somevalue snaks.
    """{"id":"Q89","type":"item","labels":{"en":{"language":"en","value":"apple"}},"descriptions":{"en":{"language":"en","value":"fruit of the apple tree"}},"claims":{
       "P462":[{"mainsnak":{"snaktype":"value","property":"P462","datavalue":{"value":{"entity-type":"item","numeric-id":3142,"id":"Q3142"},"type":"wikibase-entityid"}},"type":"statement","rank":"normal"}],
       "P279":[{"mainsnak":{"snaktype":"value","property":"P279","datavalue":{"value":{"entity-type":"item","numeric-id":3314483,"id":"Q3314483"},"type":"wikibase-entityid"}},"type":"statement","rank":"preferred"}],
       "P18":[{"mainsnak":{"snaktype":"value","property":"P18","datavalue":{"value":"Apple.jpg","type":"string"}},"type":"statement","rank":"normal"},
              {"mainsnak":{"snaktype":"value","property":"P18","datavalue":{"value":"Old.jpg","type":"string"}},"type":"statement","rank":"deprecated"}],
       "P625":[{"mainsnak":{"snaktype":"value","property":"P625","datavalue":{"value":{"latitude":51.5,"longitude":-0.12,"precision":0.01,"globe":"http://www.wikidata.org/entity/Q2"},"type":"globecoordinate"}},"type":"statement","rank":"normal"}],
       "P2067":[{"mainsnak":{"snaktype":"value","property":"P2067","datavalue":{"value":{"amount":"+0.182","lowerBound":"+0.17","upperBound":"+0.19","unit":"http://www.wikidata.org/entity/Q11570"},"type":"quantity"}},"type":"statement","rank":"normal"}],
       "P571":[{"mainsnak":{"snaktype":"value","property":"P571","datavalue":{"value":{"time":"+1850-00-00T00:00:00Z","timezone":0,"precision":9,"calendarmodel":"http://www.wikidata.org/entity/Q1985727"},"type":"time"}},"type":"statement","rank":"normal"}],
       "P1087":[{"mainsnak":{"snaktype":"value","property":"P1087","datavalue":{"value":{"amount":"+3","unit":"1"},"type":"quantity"}},"type":"statement","rank":"normal"}],
       "P40":[{"mainsnak":{"snaktype":"novalue","property":"P40"},"type":"statement","rank":"normal"}],
       "P569":[{"mainsnak":{"snaktype":"somevalue","property":"P569"},"type":"statement","rank":"normal"}],
       "P1448":[{"mainsnak":{"snaktype":"value","property":"P1448","datavalue":{"value":{"text":"Apfel","language":"de"},"type":"monolingualtext"}},"type":"statement","rank":"normal"}]
      }},""".replaceAll("\n\\s*", ""),
    // Q196 cherry: red fruit as well
    """{"id":"Q196","type":"item","labels":{"en":{"language":"en","value":"cherry"}},"descriptions":{"en":{"language":"en","value":"fruit of the cherry tree"}},"claims":{
       "P462":[{"mainsnak":{"snaktype":"value","property":"P462","datavalue":{"value":{"entity-type":"item","numeric-id":3142,"id":"Q3142"},"type":"wikibase-entityid"}},"type":"statement","rank":"normal"}],
       "P279":[{"mainsnak":{"snaktype":"value","property":"P279","datavalue":{"value":{"entity-type":"item","numeric-id":3314483,"id":"Q3314483"},"type":"wikibase-entityid"}},"type":"statement","rank":"normal"}]
      }},""".replaceAll("\n\\s*", ""),
    // Q7 ruby: red but NOT a fruit — must not match the conjunctive query
    """{"id":"Q7","type":"item","labels":{"en":{"language":"en","value":"ruby"}},"descriptions":{},"claims":{
       "P462":[{"mainsnak":{"snaktype":"value","property":"P462","datavalue":{"value":{"entity-type":"item","numeric-id":3142,"id":"Q3142"},"type":"wikibase-entityid"}},"type":"statement","rank":"normal"}]
      }},""".replaceAll("\n\\s*", ""),
    // a property entity and a lexeme with form/sense references
    """{"id":"P31","type":"property","labels":{"en":{"language":"en","value":"instance of"}},"descriptions":{},"claims":{}},""",
    """{"id":"L99","type":"lexeme","claims":{
       "P5972":[{"mainsnak":{"snaktype":"value","property":"P5972","datavalue":{"value":{"entity-type":"form","id":"L99-F2"},"type":"wikibase-entityid"}},"type":"statement","rank":"normal"},
                {"mainsnak":{"snaktype":"value","property":"P5972","datavalue":{"value":{"entity-type":"sense","id":"L99-S1"},"type":"wikibase-entityid"}},"type":"statement","rank":"normal"}]
      }},""".replaceAll("\n\\s*", ""),
    "this line is not JSON and must be skipped",
    "",
    "]")

  private lazy val tables: WikidataTables =
    WikidataEtl.run(DumpReader.fromLines(spark, dumpLines))

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[Row] = df.collect().toSet

  test("meta holds english label/description with NULL fallbacks (W4)") {
    val meta = tables.meta.collect().map(r => r.getLong(0) -> ((Option(r.getString(1)), Option(r.getString(2))))).toMap
    meta(3142L) shouldBe ((Some("red"), Some("color")))
    meta(3314483L) shouldBe ((Some("fruit"), None))
    meta(1000000031L) shouldBe ((Some("instance of"), None)) // P31 encoded
    meta(2000000099L) shouldBe ((None, None))                // L99, no labels at all
    meta.size shouldBe 7                                     // garbage line skipped (W3)
  }

  test("entity table routes item/form/sense refs and drops deprecated (W5, W7)") {
    val ent = rowsOf(tables.entity)
    ent should contain(Row(89L, 1000000462L, 3142L))      // apple color red
    ent should contain(Row(89L, 1000000279L, 3314483L))   // apple subclass fruit (preferred rank kept)
    ent should contain(Row(2000000099L, 1000005972L, 202000000099L)) // L99-F2
    ent should contain(Row(2000000099L, 1000005972L, 112000000099L)) // L99-S1
  }

  test("string table keeps normal-rank strings + monolingual text, drops deprecated (W5, W6)") {
    val strs = rowsOf(tables.string)
    strs should contain(Row(89L, 1000000018L, "Apple.jpg"))
    strs should not contain Row(89L, 1000000018L, "Old.jpg") // deprecated dropped
    strs should contain(Row(89L, 1000001448L, "Apfel"))      // monolingual → its text (value.rs:221)
  }

  test("coordinates route with globe → q_id (W8)") {
    val c = tables.coordinates.collect()
    c.length shouldBe 1
    val r = c.head
    (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5)) shouldBe
      ((89L, 1000000625L, 51.5, -0.12, 0.01, 2L))
  }

  test("quantity routes amounts, bounds, unit; unit '1' → NULL (W9)") {
    val q = tables.quantity.collect().map(r => r.getLong(1) -> r).toMap
    val kg = q(1000002067L)
    (kg.getDouble(2), kg.getDouble(3), kg.getDouble(4), kg.getLong(5)) shouldBe ((0.182, 0.17, 0.19, 11570L))
    val dimensionless = q(1000001087L)
    dimensionless.getDouble(2) shouldBe 3.0
    dimensionless.isNullAt(5) shouldBe true
  }

  test("time routes with zero month/day normalized (W10)") {
    val t = tables.time.collect()
    t.length shouldBe 1
    t.head.getTimestamp(2).toString should startWith("1850-01-01")
    t.head.getInt(3) shouldBe 9
  }

  test("novalue/somevalue → none/unknown pair tables (W11)") {
    rowsOf(tables.none) shouldBe Set(Row(89L, 1000000040L))
    rowsOf(tables.unknown) shouldBe Set(Row(89L, 1000000569L))
  }

  test("red-fruits conjunctive query end-to-end (README.md:129-141)") {
    val api = QueryApi(tables)
    val red   = api.byLabel("red").collect()
    red.map(_.getLong(0)).toSet shouldBe Set(3142L)
    val fruits = api.conjunctiveEntitySearch(Seq(
      (IdCodec.pId(462), 3142L),     // color = red
      (IdCodec.pId(279), 3314483L))) // subclass of = fruit
    fruits.collect().map(r => (r.getLong(0), r.getString(1))).toSet shouldBe
      Set((89L, "apple"), (196L, "cherry")) // ruby excluded
  }

  test("parquet round-trip preserves all tables (W12)") {
    val dir = java.nio.file.Files.createTempDirectory("wd_etl").toString
    tables.writeParquet(dir, partitions = 2)
    val back = spark.read.parquet(s"$dir/entity")
    rowsOf(back) shouldBe rowsOf(tables.entity)
    spark.read.parquet(s"$dir/meta").count() shouldBe 7
  }

  test("property co-occurrence counts entities per pair, ordered, multiplicity-free (W58)") {
    val cooc = WikidataEtl.propertyCooccurrence(DumpReader.fromLines(spark, dumpLines))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // apple AND cherry carry both color (P462) and subclass-of (P279);
    // ruby carries P462 only and must not count
    cooc((IdCodec.pId(279), IdCodec.pId(462))) shouldBe 2L
    // P18 appears twice on Q89 (one deprecated, one normal) — the pair
    // with P462 still counts the ENTITY once
    cooc((IdCodec.pId(18), IdCodec.pId(462))) shouldBe 1L
    // unordered law: every emitted pair is strictly ordered
    cooc.keys.foreach { case (a, b) => a should be < b }
  }

  test("typo-tolerant any-name lookup matches labels AND aliases, exactly ed<=1 (W56)") {
    val lines = Seq(
      "[",
      // Q1: label "apple", aliases "appl" (ed 1 from apple) + "pomme"
      """{"id":"Q1","labels":{"en":{"language":"en","value":"apple"}},"descriptions":{},"claims":{},"aliases":{"en":[{"language":"en","value":"appl"},{"language":"en","value":"pomme"}]}},""",
      // Q2: label "appla" — an ed-1 LABEL hit, no aliases
      """{"id":"Q2","labels":{"en":{"language":"en","value":"appla"}},"descriptions":{},"claims":{}},""",
      // Q3: no label, alias "apple" in French — an alias-only exact hit
      """{"id":"Q3","labels":{},"descriptions":{},"claims":{},"aliases":{"fr":[{"language":"fr","value":"apple"}]}},""",
      // Q4: far from the term on every name
      """{"id":"Q4","labels":{"en":{"language":"en","value":"banana"}},"descriptions":{},"claims":{},"aliases":{"en":[{"language":"en","value":"plantain"}]}},""",
      "]")
    val api = QueryApi(WikidataEtl.run(
      DumpReader.fromLines(spark, lines, Surface.Full), cache = false))
    val got = api.byAnyNameFuzzy("apple").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    got shouldBe Set((1L, "apple", 0), (1L, "appl", 1), (2L, "appla", 1), (3L, "apple", 0))
    // stored form ≡ in-memory form, and the store is footer-point-probed
    val t = graft.Scratch.fresh("w56spec_index")
    api.saveAnyNameIndex(spark, t, files = 8)
    val stored = api.byAnyNameFuzzyStored(spark, t, "apple").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    stored shouldBe got
    // without the links surface the lookup fails loudly, never silently
    val bare = QueryApi(WikidataEtl.run(
      DumpReader.fromLines(spark, lines), cache = false))
    an[IllegalArgumentException] should be thrownBy bare.anyNames
  }

  test("each Surface: run yields its tables, Surface.of recovers it, changesets frame like dumps") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import spark.implicits._
    // the fixture already carries blank, [/], trailing-comma and junk lines
    val lines = dumpLines ++ Seq("   ", """{"id":"Q5","lastrevid":3,"deleted":true} ,""",
      """{"id":"Q6","labels":""", """{"labels":{}},""")
    for (surface <- Surface.all) withClue(s"$surface: ") {
      val ents = DumpReader.fromLines(spark, lines, surface)
      WikidataEtl.run(ents, cache = false).byName.keySet shouldBe surface.tableNames.toSet
      Surface.of(surface.entitySchema) shouldBe surface
      Surface.of(surface.changeSchema) shouldBe surface
      Surface.of(ents) shouldBe surface
      val changes = IncrementalEtl.changesFrom(lines.toDF("value"), surface)
      Surface.of(changes) shouldBe surface
      changes.select("c.id").as[String].collect().sorted shouldBe
        ents.select("entity.id").as[String].collect().sorted
    }
    an[IllegalArgumentException] should be thrownBy
      Surface.of(StructType(Seq(StructField("id", StringType))))
  }
}
