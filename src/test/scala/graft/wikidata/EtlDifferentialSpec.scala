package graft.wikidata

import graft.SparkSpec

/** Differential test: 300 seeded random entities are run through BOTH a
  * pure-Scala reference interpreter of the wd2sql semantics
  * (src/main.rs:69-93 + src/value.rs:201-261) and the Spark ETL; the row
  * sets must match exactly. Catches expression-level bugs the fixture spec's
  * hand-picked cases can't.
  */
class EtlDifferentialSpec extends SparkSpec {

  private val rng = new scala.util.Random(20260812L)

  // ---- tiny JSON builder (values kept escape-free by construction) ----
  private def jstr(s: String) = "\"" + s + "\""
  private def obj(fields: (String, String)*) =
    fields.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")

  private def word(): String = {
    val ws = Seq("alpha", "beta", "gamma", "delta", "rho", "sigma", "omega")
    ws(rng.nextInt(ws.size)) + rng.nextInt(100)
  }

  sealed trait ExpectRow
  case class Meta(id: Long, label: Option[String], desc: Option[String])
  case class Claim(table: String, id: Long, pid: Long, values: Seq[Any])

  private val expectMeta   = scala.collection.mutable.ArrayBuffer[Meta]()
  private val expectClaims = scala.collection.mutable.ArrayBuffer[Claim]()

  /** Generate one entity line AND its expected rows. */
  private def genEntity(i: Int): String = {
    val (idText, id) = rng.nextInt(3) match {
      case 0 => val n = i + 1; (s"Q$n", n.toLong)
      case 1 => val n = i + 1; (s"P$n", n + 1000000000L)
      case _ => val n = i + 1; (s"L$n", n + 2000000000L)
    }
    val label = if (rng.nextDouble() < 0.7) Some(word()) else None
    val desc  = if (rng.nextDouble() < 0.5) Some(word() + " " + word()) else None
    expectMeta += Meta(id, label, desc)

    val claims = (0 until rng.nextInt(4)).map { _ =>
      val pidN  = 1 + rng.nextInt(9999)
      val pid   = pidN + 1000000000L
      val rank  = Seq("normal", "preferred", "deprecated")(rng.nextInt(3))
      val keep  = rank != "deprecated"
      val (snak, expect): (String, Option[Claim]) = rng.nextInt(7) match {
        case 0 => // string
          val s = word()
          (obj("snaktype" -> jstr("value"), "property" -> jstr(s"P$pidN"),
            "datavalue" -> obj("value" -> jstr(s), "type" -> jstr("string"))),
            Some(Claim("string", id, pid, Seq(s))))
        case 1 => // entity ref
          val q = 1 + rng.nextInt(99999)
          (obj("snaktype" -> jstr("value"), "property" -> jstr(s"P$pidN"),
            "datavalue" -> obj(
              "value" -> obj("entity-type" -> jstr("item"), "numeric-id" -> q.toString, "id" -> jstr(s"Q$q")),
              "type" -> jstr("wikibase-entityid"))),
            Some(Claim("entity", id, pid, Seq(q.toLong))))
        case 2 => // coordinates
          val lat  = math.round(rng.nextDouble() * 180 - 90) / 2.0
          val lon  = math.round(rng.nextDouble() * 360 - 180) / 2.0
          val prec = Seq(0.1, 0.01, 1.0)(rng.nextInt(3))
          (obj("snaktype" -> jstr("value"), "property" -> jstr(s"P$pidN"),
            "datavalue" -> obj(
              "value" -> obj("latitude" -> lat.toString, "longitude" -> lon.toString,
                "precision" -> prec.toString, "globe" -> jstr("http://www.wikidata.org/entity/Q2")),
              "type" -> jstr("globecoordinate"))),
            Some(Claim("coordinates", id, pid, Seq(lat, lon, prec, 2L))))
        case 3 => // quantity, sometimes dimensionless / unbounded
          val amt  = math.round(rng.nextDouble() * 10000) / 100.0
          val unit = if (rng.nextBoolean()) "1" else s"http://www.wikidata.org/entity/Q${1 + rng.nextInt(999)}"
          val unitId: Any = if (unit == "1") null else unit.split("Q").last.toLong
          (obj("snaktype" -> jstr("value"), "property" -> jstr(s"P$pidN"),
            "datavalue" -> obj(
              "value" -> obj("amount" -> jstr(s"+$amt"), "unit" -> jstr(unit)),
              "type" -> jstr("quantity"))),
            Some(Claim("quantity", id, pid, Seq(amt, null, null, unitId))))
        case 4 => // time with random precision, sometimes zero month/day
          val year  = 1200 + rng.nextInt(800)
          val month = if (rng.nextBoolean()) 0 else 1 + rng.nextInt(12)
          val day   = if (month == 0 || rng.nextBoolean()) 0 else 1 + rng.nextInt(28)
          val prec  = 9 + rng.nextInt(3)
          val ts    = f"+$year%04d-$month%02d-$day%02dT00:00:00Z"
          val expMonth = if (month == 0) 1 else month
          val expDay   = if (day == 0) 1 else day
          val expTs    = f"$year%04d-$expMonth%02d-$expDay%02d 00:00:00.0"
          (obj("snaktype" -> jstr("value"), "property" -> jstr(s"P$pidN"),
            "datavalue" -> obj(
              "value" -> obj("time" -> jstr(ts), "timezone" -> "0", "precision" -> prec.toString),
              "type" -> jstr("time"))),
            Some(Claim("time", id, pid, Seq(expTs, prec))))
        case 5 =>
          (obj("snaktype" -> jstr("novalue"), "property" -> jstr(s"P$pidN")),
            Some(Claim("none", id, pid, Seq())))
        case _ =>
          (obj("snaktype" -> jstr("somevalue"), "property" -> jstr(s"P$pidN")),
            Some(Claim("unknown", id, pid, Seq())))
      }
      if (keep) expect.foreach(expectClaims += _)
      val statement = obj("mainsnak" -> snak, "type" -> jstr("statement"), "rank" -> jstr(rank))
      s"P$pidN" -> s"[$statement]"
    }

    val labels = label.map(l => obj("en" -> obj("language" -> jstr("en"), "value" -> jstr(l)))).getOrElse("{}")
    val descs  = desc.map(d => obj("en" -> obj("language" -> jstr("en"), "value" -> jstr(d)))).getOrElse("{}")
    obj("id" -> jstr(idText), "type" -> jstr("item"),
      "labels" -> labels, "descriptions" -> descs,
      "claims" -> claims.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}"))
  }

  test("truthy matches a pure-Scala BestRank interpreter on 200 random contested entities (W46/W47)") {
    // The mini-dump plants SPECIFIC contests; this fuzzes the law itself:
    // multi-statement (entity, property) groups with random value families
    // and ranks, the expectation derived by a 6-line Scala interpreter of
    // BestRank (kept = non-deprecated; any preferred in the WHOLE group →
    // only preferred are truthy), then every routed table compared as a
    // MULTISET (identical novalue rows must keep their multiplicity).
    val trng = new scala.util.Random(20260818L)
    val expEntity  = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val expString  = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
    val expQty     = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Any)]()
    val expNone    = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val expUnknown = scala.collection.mutable.ArrayBuffer[(Long, Long)]()

    case class St(rank: String, kind: String, json: String, payload: Any)
    def genSt(pidN: Int): St = {
      val rank = Seq("normal", "normal", "preferred", "deprecated")(trng.nextInt(4))
      trng.nextInt(5) match {
        case 0 =>
          val s = "w" + trng.nextInt(100000)
          St(rank, "string", obj("snaktype" -> jstr("value"), "property" -> jstr(s"P$pidN"),
            "datavalue" -> obj("value" -> jstr(s), "type" -> jstr("string"))), s)
        case 1 =>
          val q = 1 + trng.nextInt(99999)
          St(rank, "entity", obj("snaktype" -> jstr("value"), "property" -> jstr(s"P$pidN"),
            "datavalue" -> obj(
              "value" -> obj("entity-type" -> jstr("item"), "id" -> jstr(s"Q$q")),
              "type" -> jstr("wikibase-entityid"))), q.toLong)
        case 2 =>
          val amt = math.round(trng.nextDouble() * 10000) / 100.0
          val unit = if (trng.nextBoolean()) "1" else s"http://www.wikidata.org/entity/Q${1 + trng.nextInt(999)}"
          val unitId: Any = if (unit == "1") null else unit.split("Q").last.toLong
          St(rank, "quantity", obj("snaktype" -> jstr("value"), "property" -> jstr(s"P$pidN"),
            "datavalue" -> obj(
              "value" -> obj("amount" -> jstr(s"+$amt"), "unit" -> jstr(unit)),
              "type" -> jstr("quantity"))), (amt, unitId))
        case 3 =>
          St(rank, "none", obj("snaktype" -> jstr("novalue"), "property" -> jstr(s"P$pidN")), ())
        case _ =>
          St(rank, "unknown", obj("snaktype" -> jstr("somevalue"), "property" -> jstr(s"P$pidN")), ())
      }
    }

    val lines = (0 until 200).map { i =>
      val id = i + 1L
      // DISTINCT pids per entity: a duplicate JSON map key would silently
      // drop one group on the parse side while the interpreter counts both
      val pidNs = Iterator.continually(1 + trng.nextInt(9999))
        .distinct.take(1 + trng.nextInt(3)).toSeq
      val claims = pidNs.map { pidN =>
        val pid = pidN + 1000000000L
        val group = (0 until 1 + trng.nextInt(4)).map(_ => genSt(pidN))
        // the interpreter: BestRank over the WHOLE group, then route
        val kept = group.filter(_.rank != "deprecated")
        val hp = kept.exists(_.rank == "preferred")
        kept.filter(st => (st.rank == "preferred") == hp).foreach { st =>
          st.kind match {
            case "string"   => expString += ((id, pid, st.payload.asInstanceOf[String]))
            case "entity"   => expEntity += ((id, pid, st.payload.asInstanceOf[Long]))
            case "quantity" =>
              val (a, u) = st.payload.asInstanceOf[(Double, Any)]
              expQty += ((id, pid, a, u))
            case "none"     => expNone += ((id, pid))
            case "unknown"  => expUnknown += ((id, pid))
          }
        }
        s"P$pidN" -> group.map(st =>
          obj("mainsnak" -> st.json, "type" -> jstr("statement"), "rank" -> jstr(st.rank)))
          .mkString("[", ",", "]")
      }
      obj("id" -> jstr(s"Q${i + 1}"), "type" -> jstr("item"),
        "labels" -> "{}", "descriptions" -> "{}",
        "claims" -> claims.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}"))
    }

    val core = WikidataEtl.truthyCore(DumpReader.fromLines(
      spark, lines.map(_ + ","), Surface.Qualified))
    def multiset[A](xs: Seq[A]): Map[A, Int] =
      xs.groupBy(identity).view.mapValues(_.size).toMap

    multiset(WikidataEtl.entityTable(core).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq) shouldBe
      multiset(expEntity.toSeq)
    multiset(WikidataEtl.stringTable(core).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq) shouldBe
      multiset(expString.toSeq)
    multiset(WikidataEtl.quantityTable(core).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(5)) null else r.getLong(5))).toSeq) shouldBe
      multiset(expQty.toSeq.map { case (a, b, c, d) => (a, b, c, d) })
    multiset(WikidataEtl.noneTable(core).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq) shouldBe
      multiset(expNone.toSeq)
    multiset(WikidataEtl.unknownTable(core).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq) shouldBe
      multiset(expUnknown.toSeq)
  }

  test("ETL matches the pure-Scala reference interpreter on 300 random entities") {
    val lines  = (0 until 300).map(genEntity) // also fills expectMeta/expectClaims
    val tables = WikidataEtl.run(DumpReader.fromLines(spark, lines.map(_ + ",")))

    val gotMeta = tables.meta.collect()
      .map(r => Meta(r.getLong(0), Option(r.getString(1)), Option(r.getString(2)))).toSet
    gotMeta shouldBe expectMeta.toSet

    def gotClaims(table: String, df: org.apache.spark.sql.DataFrame): Set[Claim] =
      df.collect().map { r =>
        val values = (2 until r.length).map { i =>
          r.get(i) match {
            case t: java.sql.Timestamp => t.toString
            case null                  => null
            case other                 => other
          }
        }
        Claim(table, r.getLong(0), r.getLong(1), values)
      }.toSet

    val expectedByTable = expectClaims.groupBy(_.table)
    for ((name, df) <- tables.byName if name != "meta") {
      withClue(s"table $name: ") {
        gotClaims(name, df) shouldBe expectedByTable.getOrElse(name, Seq()).toSet
      }
    }
  }
}
