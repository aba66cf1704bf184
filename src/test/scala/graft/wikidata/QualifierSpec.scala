package graft.wikidata

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}

/** W34 qualifier routing + W35 temporal validity.
  *
  * The reference drops qualifiers entirely (src/value.rs keeps only the
  * mainsnak of each statement), so both operators are a strict superset of
  * its surface; the routing law for qualifier snaks deliberately mirrors the
  * main tables' 7-way law (value.rs:201-261) so one law covers both grains.
  */
class QualifierSpec extends SparkSpec {

  private def st(rank: String, mainsnak: String, id: String, quals: String = ""): String = {
    val q = if (quals.isEmpty) "" else s""","qualifiers":{$quals}"""
    s"""{"id":"$id","mainsnak":$mainsnak,"type":"statement","rank":"$rank"$q}"""
  }

  private val entRef =
    """{"snaktype":"value","property":"P462","datavalue":{"value":{"entity-type":"item","id":"Q3142"},"type":"wikibase-entityid"}}"""

  private def timeSnak(p: String, t: String) =
    s"""{"snaktype":"value","property":"$p","datavalue":{"value":{"time":"$t","timezone":0,"precision":11},"type":"time"}}"""

  private val dumpLines: Seq[String] = Seq(
    "[",
    // Q1: one statement with every qualifier family the router handles
    (s"""{"id":"Q1","type":"item","claims":{"P462":[""" +
      st("normal", entRef, "Q1$0", Seq(
        s""""P580":[${timeSnak("P580", "+1920-00-00T00:00:00Z")},${timeSnak("P580", "+1910-05-03T00:00:00Z")}]""",
        s""""P582":[${timeSnak("P582", "+1960-01-02T00:00:00Z")},${timeSnak("P582", "+1980-07-00T00:00:00Z")}]""",
        """"P1":[{"snaktype":"value","property":"P1","datavalue":{"value":"plain","type":"string"}}]""",
        """"P2":[{"snaktype":"value","property":"P2","datavalue":{"value":{"text":"mono","language":"de"},"type":"monolingualtext"}}]""",
        """"P3":[{"snaktype":"value","property":"P3","datavalue":{"value":{"language":"de"},"type":"monolingualtext"}}]""",
        """"P4":[{"snaktype":"value","property":"P4","datavalue":{"value":{"entity-type":"item","id":"Q77"},"type":"wikibase-entityid"}}]""",
        """"P5":[{"snaktype":"value","property":"P5","datavalue":{"value":{"entity-type":"item","id":"Qbroken"},"type":"wikibase-entityid"}}]""",
        """"P6":[{"snaktype":"value","property":"P6","datavalue":{"value":{"amount":"+2.5","lowerBound":"+2","upperBound":"+3","unit":"http://www.wikidata.org/entity/Q11570"},"type":"quantity"}}]""",
        """"P7":[{"snaktype":"value","property":"P7","datavalue":{"value":{"amount":"-4","unit":"1"},"type":"quantity"}}]""",
        """"P8":[{"snaktype":"value","property":"P8","datavalue":{"value":{"latitude":51.5,"longitude":-0.5,"precision":0.01,"globe":"http://www.wikidata.org/entity/Q2"},"type":"globecoordinate"}}]""",
        """"P9":[{"snaktype":"novalue","property":"P9"}]""",
        """"P10":[{"snaktype":"somevalue","property":"P10"}]"""
      ).mkString(",")) + "]}},"),
    // Q2: deprecated statement — its qualifiers must vanish with it;
    // plus an unqualified (eternal) statement
    (s"""{"id":"Q2","type":"item","claims":{"P462":[""" +
      st("deprecated", entRef, "Q2$0",
        """"P1":[{"snaktype":"value","property":"P1","datavalue":{"value":"ghost","type":"string"}}]""") +
      "," + st("normal", entRef, "Q2$1") + "]}},"),
    // Q3: span ended before T (1950); Q4: span starting after T;
    // Q5: span straddling T; Q6: open-ended start before T
    (s"""{"id":"Q3","type":"item","claims":{"P462":[""" +
      st("normal", entRef, "Q3$0",
        s""""P580":[${timeSnak("P580", "+1900-01-01T00:00:00Z")}],"P582":[${timeSnak("P582", "+1940-01-01T00:00:00Z")}]""") + "]}},"),
    (s"""{"id":"Q4","type":"item","claims":{"P462":[""" +
      st("normal", entRef, "Q4$0",
        s""""P580":[${timeSnak("P580", "+1970-01-01T00:00:00Z")}]""") + "]}},"),
    (s"""{"id":"Q5","type":"item","claims":{"P462":[""" +
      st("normal", entRef, "Q5$0",
        s""""P580":[${timeSnak("P580", "+1940-01-01T00:00:00Z")}],"P582":[${timeSnak("P582", "+1955-01-01T00:00:00Z")}]""") + "]}},"),
    (s"""{"id":"Q6","type":"item","claims":{"P462":[""" +
      st("normal", entRef, "Q6$0",
        s""""P582":[${timeSnak("P582", "+1950-06-01T00:00:00Z")}]""") + "]}},"),
    "]")

  private lazy val ents = DumpReader.fromLines(spark, dumpLines, Surface.Qualified)
  private lazy val quals = WikidataEtl.qualifiersTable(ents)
  private lazy val stmts = WikidataEtl.entityStatements(ents)

  private def qrow(qpid: Long): Seq[Row] =
    quals.filter(col("qual_property_id") === qpid).collect().toSeq

  test("qualifier snaks route 7-way under one kind discriminator (W34)") {
    val byKind = quals.filter(col("id") === 1L).groupBy("kind").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    byKind("time") shouldBe 4     // 2×P580 + 2×P582
    byKind("string") shouldBe 2   // plain + monolingual-with-text
    byKind("none") shouldBe 2     // text-less monolingual + novalue
    byKind("unknown") shouldBe 1  // somevalue
    byKind("entity") shouldBe 1   // Q77 kept, Qbroken dropped
    byKind("quantity") shouldBe 2
    byKind("coordinates") shouldBe 1
  }

  test("typed columns live only under their kind; values match the main-table law (W34)") {
    val p1 = qrow(IdCodec.pId(1)).head
    p1.getAs[String]("kind") shouldBe "string"
    p1.getAs[String]("string") shouldBe "plain"
    val p2 = qrow(IdCodec.pId(2)).head
    p2.getAs[String]("string") shouldBe "mono" // monolingual → its text
    val p4 = qrow(IdCodec.pId(4)).head
    p4.getAs[Long]("entity_id") shouldBe 77L
    qrow(IdCodec.pId(5)) shouldBe empty        // unencodable ref: row dropped
    val p6 = qrow(IdCodec.pId(6)).head
    p6.getAs[Double]("amount") shouldBe 2.5
    p6.getAs[Double]("lower_bound") shouldBe 2.0
    p6.getAs[Double]("upper_bound") shouldBe 3.0
    p6.getAs[Long]("unit_id") shouldBe 11570L
    val p7 = qrow(IdCodec.pId(7)).head
    p7.getAs[Double]("amount") shouldBe -4.0
    assert(p7.isNullAt(p7.fieldIndex("unit_id"))) // unit "1" → NULL
    val p8 = qrow(IdCodec.pId(8)).head
    p8.getAs[Double]("latitude") shouldBe 51.5
    p8.getAs[Double]("longitude") shouldBe -0.5
    p8.getAs[Long]("globe_id") shouldBe 2L
    // none/unknown rows carry no typed payload
    val p9 = qrow(IdCodec.pId(9)).head
    p9.getAs[String]("kind") shouldBe "none"
    assert(p9.isNullAt(p9.fieldIndex("string")))
  }

  test("qualifiers of deprecated statements are dropped with their statement (W34)") {
    quals.filter(col("claim_id") === "Q2$0").count() shouldBe 0L
    // but the surviving statement of the same entity is present in the spine
    stmts.filter(col("claim_id") === "Q2$1").count() shouldBe 1L
    stmts.filter(col("claim_id") === "Q2$0").count() shouldBe 0L
  }

  test("claim spine keys statements to their qualifiers (W34)") {
    val spine = stmts.collect().map(r => r.getAs[String]("claim_id")).toSet
    spine should contain allOf ("Q1$0", "Q3$0", "Q4$0", "Q5$0", "Q6$0")
    // every qualifier row's claim_id resolves into the spine
    val orphan = quals.join(stmts.select("claim_id"), Seq("claim_id"), "left_anti")
    orphan.count() shouldBe 0L
  }

  test("validity spans take min(start)/max(end) over repeated qualifiers (W35)") {
    val span = TemporalClaims.validitySpans(quals)
      .filter(col("claim_id") === "Q1$0").collect().head
    span.getAs[java.sql.Timestamp]("valid_from").toString should startWith("1910-05-03")
    // +1980-07-00 (zero day → 01) outranks 1960 for the max end
    span.getAs[java.sql.Timestamp]("valid_until").toString should startWith("1980-07-01")
  }

  test("validAt keeps straddling + eternal claims, drops ended/not-yet-started (W35)") {
    val at = lit("1950-06-01 00:00:00").cast("timestamp")
    val alive = TemporalClaims.validAt(stmts, quals, at)
      .collect().map(_.getAs[String]("claim_id")).toSet
    alive should contain allOf ("Q1$0", "Q2$1", "Q5$0") // in-span, eternal, straddling
    alive should not contain "Q3$0"                     // ended 1940
    alive should not contain "Q4$0"                     // starts 1970
    // boundary law: valid_until > T is strict — a claim ending exactly at T is dead
    alive should not contain "Q6$0"
  }

  test("labeledAt decorates surviving claims; unlabeled entities stay NULL (W37)") {
    val at = lit("1950-06-01 00:00:00").cast("timestamp")
    // the fixture entities carry no labels at all — plant a meta frame
    import org.apache.spark.sql.functions.typedLit
    val sess = spark; import sess.implicits._
    val meta = Seq((1L, "one"), (5L, "five"), (3142L, "red"))
      .toDF("id", "label")
    val rows = TemporalClaims.labeledAt(stmts, quals, meta, at)
      .collect().map(r => r.getAs[String]("claim_id") ->
        ((Option(r.getAs[String]("subject_label")),
          r.getAs[Long]("entity_id"),
          Option(r.getAs[String]("object_label"))))).toMap
    rows("Q1$0") shouldBe ((Some("one"), 3142L, Some("red")))
    rows("Q5$0") shouldBe ((Some("five"), 3142L, Some("red")))
    rows("Q2$1")._1 shouldBe None // unlabeled subject survives with NULL
    // label joins must not change the surviving-claim set
    rows.keySet shouldBe TemporalClaims.validAt(stmts, quals, at)
      .collect().map(_.getAs[String]("claim_id")).toSet
  }

  test("changedBetween reports exactly the status flips, tagged (W42)") {
    val t1 = lit("1935-01-01 00:00:00").cast("timestamp")
    val t2 = lit("1950-06-01 00:00:00").cast("timestamp")
    val diff = TemporalClaims.changedBetween(stmts, quals, t1, t2)
      .collect().map(r => r.getAs[String]("claim_id") -> r.getAs[String]("change")).toMap
    diff("Q3$0") shouldBe "lost"   // 1900-1940: alive at 1935, dead at 1950
    diff("Q5$0") shouldBe "gained" // 1940-1955: dead at 1935, alive at 1950
    diff("Q6$0") shouldBe "lost"   // ends exactly at t2: strict bound kills it
    diff should not contain key("Q1$0") // 1910-1980: alive at both
    diff should not contain key("Q4$0") // starts 1970: dead at both
    diff should not contain key("Q2$1") // eternal: alive at both, by law
    // diff ≡ validAt symmetric difference, both directions
    def aliveSet(at: org.apache.spark.sql.Column) =
      TemporalClaims.validAt(stmts, quals, at)
        .collect().map(_.getAs[String]("claim_id")).toSet
    val (a1, a2) = (aliveSet(t1), aliveSet(t2))
    diff.filter(_._2 == "gained").keySet shouldBe (a2 -- a1)
    diff.filter(_._2 == "lost").keySet shouldBe (a1 -- a2)
  }

  test("truthy keeps only preferred where one exists, else normals (W46)") {
    def ref(q: String, rank: String, sid: String) =
      s"""{"id":"$sid","mainsnak":{"snaktype":"value","property":"PX","datavalue":{"value":{"entity-type":"item","id":"$q"},"type":"wikibase-entityid"}},"type":"statement","rank":"$rank"}"""
    val lines = Seq("[",
      s"""{"id":"Q50","type":"item","claims":{
         |"P70":[${ref("Q10", "preferred", "Q50$$0")},${ref("Q11", "normal", "Q50$$1")},${ref("Q12", "deprecated", "Q50$$2")}],
         |"P71":[${ref("Q13", "normal", "Q50$$3")},${ref("Q14", "normal", "Q50$$4")}]
         |}},""".stripMargin.replaceAll("\n", ""),
      "]")
    val truthy = WikidataEtl.truthyStatements(
        DumpReader.fromLines(spark, lines, Surface.Qualified))
      .collect().map(r => (r.getAs[Long]("property_id"), r.getAs[Long]("entity_id"))).toSet
    truthy shouldBe Set(
      (IdCodec.pId(70), 10L),                      // preferred wins, normal suppressed
      (IdCodec.pId(71), 13L), (IdCodec.pId(71), 14L)) // no preferred → all normals
  }

  test("the truthy flag aggregates over ALL value families and snaktypes (W46/W47)") {
    def ent(q: String, rank: String, sid: String) =
      s"""{"id":"$sid","mainsnak":{"snaktype":"value","property":"PX","datavalue":{"value":{"entity-type":"item","id":"$q"},"type":"wikibase-entityid"}},"type":"statement","rank":"$rank"}"""
    def qty(amt: String, rank: String, sid: String) =
      s"""{"id":"$sid","mainsnak":{"snaktype":"value","property":"PX","datavalue":{"value":{"amount":"+$amt","unit":"1"},"type":"quantity"}},"type":"statement","rank":"$rank"}"""
    def noval(rank: String, sid: String) =
      s"""{"id":"$sid","mainsnak":{"snaktype":"novalue","property":"PX"},"type":"statement","rank":"$rank"}"""
    val lines = Seq("[",
      s"""{"id":"Q60","type":"item","claims":{
         |"P80":[${ent("Q10", "normal", "Q60$$0")},${qty("7.5", "preferred", "Q60$$1")}],
         |"P81":[${ent("Q11", "normal", "Q60$$2")},${qty("8.5", "normal", "Q60$$3")}],
         |"P82":[${qty("1.5", "normal", "Q60$$4")},${qty("2.5", "preferred", "Q60$$5")}],
         |"P83":[${ent("Q12", "normal", "Q60$$6")},${noval("preferred", "Q60$$7")}]
         |}},""".stripMargin.replaceAll("\n", ""),
      "]")
    val core = WikidataEtl.truthyCore(
      DumpReader.fromLines(spark, lines, Surface.Qualified))
    // entity slice: P80's normal Q10 is suppressed by the PREFERRED
    // QUANTITY in the same group (the cross-family law); P83's normal Q12
    // by the preferred NOVALUE (ranks apply to valueless snaks too); P81
    // has no preferred → both normals truthy
    WikidataEtl.entityTable(core)
      .collect().map(r => (r.getAs[Long]("property_id"), r.getAs[Long]("entity_id")))
      .toSet shouldBe Set((IdCodec.pId(81), 11L))
    // quantity slice: the preferred figures + P81's uncontested normal
    WikidataEtl.quantityTable(core)
      .collect().map(r => (r.getAs[Long]("property_id"), r.getAs[Double]("amount")))
      .toSet shouldBe Set(
        (IdCodec.pId(80), 7.5), (IdCodec.pId(81), 8.5), (IdCodec.pId(82), 2.5))
    // the preferred novalue itself routes to none — truthy, not dropped
    WikidataEtl.noneTable(core)
      .collect().map(r => r.getAs[Long]("property_id"))
      .toSet shouldBe Set(IdCodec.pId(83))
  }

  test("truthyCut: frame-level BestRank laws — deprecated drops and never suppresses; columns pass through (W49)") {
    import spark.implicits._
    val stmts = Seq(
      (1L, 10L, "normal", 100L),     // contested by a preferred → suppressed
      (1L, 10L, "preferred", 200L),
      (1L, 11L, "normal", 300L),     // contested only by deprecated → survives
      (1L, 11L, "deprecated", 400L),
      (2L, 10L, "normal", 500L)      // uncontested normal → survives
    ).toDF("id", "property_id", "rank", "entity_id")
    val cut = WikidataEtl.truthyCut(stmts)
    cut.columns.toSeq shouldBe Seq("id", "property_id", "rank", "entity_id")
    cut.select("entity_id").as[Long].collect().toSet shouldBe Set(200L, 300L, 500L)
  }

  test("truthyCore is ONE hash shuffle of the claim slice — window max, no join back (W46 scale shape)") {
    // repartition the source so the window's required distribution is not
    // trivially satisfied by a single input partition; executedPlan, not
    // sparkPlan — EnsureRequirements inserts the exchanges there
    val core = WikidataEtl.truthyCore(ents.repartition(3))
    val plan = core.queryExecution.executedPlan.toString
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1 // the (id, property_id) window exchange
    plan should not include "Join" // best-flag via window, never a groupBy + join back
  }

  test("truthy × validAt: the preferred statement's own span decides the group (W48)") {
    def ent(q: String, rank: String, sid: String, quals: String = "") = {
      val qq = if (quals.isEmpty) "" else s""","qualifiers":{$quals}"""
      s"""{"id":"$sid","mainsnak":{"snaktype":"value","property":"PX","datavalue":{"value":{"entity-type":"item","id":"$q"},"type":"wikibase-entityid"}},"type":"statement","rank":"$rank"$qq}"""
    }
    val lines = Seq("[",
      s"""{"id":"Q70","type":"item","claims":{
         |"P90":[${ent("Q20", "preferred", "Q70$$0",
                s""""P582":[${timeSnak("P582", "+1940-01-01T00:00:00Z")}]""")},${ent("Q21", "normal", "Q70$$1")}],
         |"P91":[${ent("Q22", "preferred", "Q70$$2",
                s""""P580":[${timeSnak("P580", "+1920-01-01T00:00:00Z")}],"P582":[${timeSnak("P582", "+1980-01-01T00:00:00Z")}]""")},${ent("Q23", "normal", "Q70$$3")}]
         |}},""".stripMargin.replaceAll("\n", ""),
      "]")
    val e = DumpReader.fromLines(spark, lines, Surface.Qualified)
    val alive = TemporalClaims.validAt(
      WikidataEtl.truthyStatements(e), WikidataEtl.qualifiersTable(e),
      lit("1950-06-01 00:00:00").cast("timestamp"))
      .collect().map(r => (r.getAs[Long]("property_id"), r.getAs[Long]("entity_id"))).toSet
    // P90: truthy keeps ONLY the preferred Q20 (normal Q21 suppressed),
    // whose span ended 1940 → dead at 1950 → the group answers NOTHING
    // (NOT Q21 — wdt: semantics, then time). P91: preferred Q22's span
    // straddles 1950 → it answers.
    alive shouldBe Set((IdCodec.pId(91), 22L))
  }

  test("temporalCoverage rolls up spans per property (W44)") {
    val cov = TemporalClaims.temporalCoverage(stmts, quals)
      .collect().map(r => r.getAs[Long]("property_id") -> r).toMap
    val p462 = cov(IdCodec.pId(462))
    p462.getAs[Long]("n_claims") shouldBe 6L   // Q1,Q3..Q6 + Q2's eternal (Q2$0 deprecated)
    p462.getAs[Long]("n_temporal") shouldBe 5L // Q1,Q3,Q4,Q5,Q6 carry spans
    p462.getAs[java.sql.Timestamp]("earliest_from").toString should startWith("1900-01-01")
    p462.getAs[java.sql.Timestamp]("latest_until").toString should startWith("1980-07-01")
  }

  test("references route under the 7-way kind law, keyed by citation record (W59)") {
    val lines = Seq(
      "[",
      // Q1: one statement citing TWO sources — record 0 is the classic
      // "stated in + retrieved" pair (entity + time), record 1 a reference
      // URL (string) plus an unencodable entity ref that must drop
      s"""{"id":"Q1","type":"item","claims":{"P462":[{"id":"Q1$$0","mainsnak":$entRef,"type":"statement","rank":"normal","references":[""" +
        s"""{"snaks":{"P248":[{"snaktype":"value","property":"P248","datavalue":{"value":{"entity-type":"item","id":"Q54919"},"type":"wikibase-entityid"}}],""" +
        s""""P813":[${timeSnak("P813", "+2020-01-02T00:00:00Z")}]}},""" +
        s"""{"snaks":{"P854":[{"snaktype":"value","property":"P854","datavalue":{"value":"https://x.test/a","type":"string"}}],""" +
        s""""P999":[{"snaktype":"value","property":"P999","datavalue":{"value":{"entity-type":"item","id":"Qbroken"},"type":"wikibase-entityid"}}]}}]}]}},""",
      // Q2: a deprecated statement's references must vanish with it
      s"""{"id":"Q2","type":"item","claims":{"P462":[{"id":"Q2$$0","mainsnak":$entRef,"type":"statement","rank":"deprecated","references":[""" +
        s"""{"snaks":{"P854":[{"snaktype":"value","property":"P854","datavalue":{"value":"ghost","type":"string"}}]}}]}]}},""",
      "]")
    val refs = WikidataEtl.referencesTable(
      DumpReader.fromLines(spark, lines, Surface.Full))
    val rows = refs.collect().map(r =>
      (r.getAs[String]("claim_id"), r.getAs[Int]("ref_idx"),
        r.getAs[Long]("ref_property_id"), r.getAs[String]("kind"))).toSet
    rows shouldBe Set(
      ("Q1$0", 0, IdCodec.pId(248), "entity"),
      ("Q1$0", 0, IdCodec.pId(813), "time"),
      ("Q1$0", 1, IdCodec.pId(854), "string"))
    // typed values land in their kind's columns only
    val statedIn = refs.filter(col("ref_property_id") === IdCodec.pId(248)).head()
    statedIn.getAs[Long]("entity_id") shouldBe 54919L
    statedIn.getAs[String]("string") should be(null)
    val url = refs.filter(col("ref_property_id") === IdCodec.pId(854)).head()
    url.getAs[String]("string") shouldBe "https://x.test/a"
  }

  test("validAt ≡ brute-force span filter on every claim (W35)") {
    val at = lit("1950-06-01 00:00:00").cast("timestamp")
    val fast = TemporalClaims.validAt(stmts, quals, at)
    val spans = TemporalClaims.validitySpans(quals).collect()
      .map(r => r.getString(0) -> ((Option(r.getTimestamp(1)), Option(r.getTimestamp(2))))).toMap
    val t = java.sql.Timestamp.valueOf("1950-06-01 00:00:00")
    val expected = stmts.collect().filter { r =>
      val (from, until) = spans.getOrElse(r.getAs[String]("claim_id"), (None, None))
      from.forall(!_.after(t)) && until.forall(_.after(t))
    }.toSet
    fast.collect().toSet shouldBe expected
  }
}
