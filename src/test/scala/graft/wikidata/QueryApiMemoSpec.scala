package graft.wikidata

import graft.SparkSpec
import graft.operators.Caches
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** QueryApi's per-instance memo: path closures, the fuzzy variant indexes
  * and the sourced claim-id set are built once, give the same rows as a
  * fresh instance, and survive `Caches.releaseAll()`. */
class QueryApiMemoSpec extends SparkSpec {

  private val P31 = 31L
  private val P279 = 279L
  private val Red = 3142L
  // a P279 tree 4 deep (14 → 13 → 12 → 11 → 10, plus 15 → 11) and twenty
  // instances spread over it; every P31 claim is sourced, every 4th
  // instance's red-colour claim too
  private val subclass = Seq(11L -> 10L, 12L -> 11L, 13L -> 12L, 14L -> 13L, 15L -> 11L)
  private val instances = (100L until 120L).map(i => i -> (10L + i % 6))
  private def sourced(i: Long) = i % 4 == 0

  private def snak(pid: Long, q: Long) =
    s"""{"snaktype":"value","property":"P$pid","datavalue":{"value":""" +
      s"""{"entity-type":"item","numeric-id":$q,"id":"Q$q"},"type":"wikibase-entityid"}}"""
  private def claim(id: Long, k: Int, pid: Long, q: Long, refs: Boolean) =
    s""""P$pid":[{"mainsnak":${snak(pid, q)},"type":"statement","rank":"normal",""" +
      s""""id":"Q$id$$$k"""" +
      (if (refs) s""","references":[{"snaks":{"P248":[${snak(248, 5)}]}}]""" else "") + "}]"
  private def entity(id: Long, label: String, claims: Seq[String], alias: String) =
    s"""{"id":"Q$id","type":"item","labels":{"en":{"language":"en","value":"$label"}},""" +
      s""""descriptions":{},"claims":{${claims.mkString(",")}},""" +
      s""""aliases":{"en":[{"language":"en","value":"$alias"}]}},"""

  private lazy val tables: WikidataTables = {
    val lines = Seq("[", entity(Red, "red", Nil, "crimson")) ++
      (10L to 15L).map(c => entity(c, s"class$c",
        subclass.filter(_._1 == c).map { case (s, p) => claim(s, 0, P279, p, refs = false) },
        s"kind$c")) ++
      instances.map { case (i, c) => entity(i, s"item$i",
        Seq(claim(i, 0, P31, c, refs = true)) ++
          (if (i % 2 == 0) Seq(claim(i, 1, 462, Red, refs = sourced(i))) else Nil),
        s"thing$i") } :+ "]"
    WikidataEtl.run(DumpReader.fromLines(spark, lines, Surface.Full),
      cache = false)
  }

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  private def cached(df: DataFrame): Boolean =
    df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }.nonEmpty

  private val conjuncts = Seq((IdCodec.pId(462), Red), (IdCodec.pId(P31), 10L))

  test("a warm instance answers every memoized query like a fresh one") {
    val warm = QueryApi(tables)
    def answers(api: QueryApi): Seq[Set[Row]] = Seq(
      rows(api.path("P31/P279*")),
      rows(api.pathClosure(IdCodec.pId(P279))),
      rows(api.byLabelFuzzy("item105")),
      rows(api.byAnyNameFuzzy("thing11")),
      rows(api.conjunctiveSourcedSearch(conjuncts)))
    val first = answers(warm)
    answers(warm) shouldBe first
    answers(QueryApi(tables)) shouldBe first
    // and the answers are the right ones
    val up = subclass.toMap
    def ancestors(c: Long): Seq[Long] = c +: up.get(c).toSeq.flatMap(ancestors)
    first.head shouldBe instances.flatMap { case (i, c) => ancestors(c).map(a => Row(i, a)) }.toSet
    first(4).map(_.getLong(0)) shouldBe
      instances.collect { case (i, 10L) if sourced(i) => i }.toSet
    Seq(first(2), first(3)).foreach(_ should not be empty)
    Caches.releaseAll()
  }

  test("a second pathClosure reuses the closure, shared with path(\"P<n>*\")") {
    val api = QueryApi(tables)
    val pid = IdCodec.pId(P279)
    val (cold, coldJobs) = jobsOf(rows(api.pathClosure(pid)))
    val (again, warmJobs) = jobsOf(rows(api.pathClosure(pid)))
    val (viaPath, pathJobs) = jobsOf(rows(api.path("P279*")))
    info(s"jobs: cold $coldJobs, warm $warmJobs, path $pathJobs")
    again shouldBe cold
    viaPath shouldBe cold
    warmJobs should be < (coldJobs / 3)
    pathJobs should be < (coldJobs / 3)
    // strict `+` reads the same closure entry
    val (plus, plusJobs) = jobsOf(rows(api.pathClosure(pid, reflexive = false)))
    plus shouldBe cold.filter(r => r.getLong(0) != r.getLong(1))
    plusJobs should be < (coldJobs / 3)
  }

  test("reliable = true is memoized apart from the local closure") {
    spark.sparkContext.setCheckpointDir(graft.Scratch.fresh("memo_spec_ckpt"))
    val api = QueryApi(tables)
    val pid = IdCodec.pId(P279)
    val (local, localJobs) = jobsOf(rows(api.pathClosure(pid)))
    val (reliable, reliableJobs) = jobsOf(rows(api.pathClosure(pid, reliable = true)))
    val (_, againJobs) = jobsOf(rows(api.pathClosure(pid, reliable = true)))
    info(s"jobs: local $localJobs, reliable $reliableJobs, again $againJobs")
    reliable shouldBe local
    // the reliable closure runs its own rounds, then is reused in turn
    reliableJobs should be > (localJobs / 2)
    againJobs should be < (reliableJobs / 3)
  }

  test("persisted entries re-persist after Caches.releaseAll; earlier frames still collect") {
    val api = QueryApi(tables)
    val fuzzy = api.byLabelFuzzy("item105")
    val anyFuzzy = api.byAnyNameFuzzy("thing11")
    val search = api.conjunctiveSourcedSearch(conjuncts)
    val closure = api.pathClosure(IdCodec.pId(P279))
    val before = Seq(fuzzy, anyFuzzy, search, closure).map(rows)
    Seq(fuzzy, anyFuzzy, search).foreach(cached(_) shouldBe true)

    Caches.releaseAll()
    api.anyNames.storageLevel should not be org.apache.spark.storage.StorageLevel.NONE
    Seq(fuzzy, anyFuzzy, search, closure).map(rows) shouldBe before
    val after = Seq(api.byLabelFuzzy("item105"), api.byAnyNameFuzzy("thing11"),
      api.conjunctiveSourcedSearch(conjuncts))
    after.foreach(cached(_) shouldBe true)
    after.map(rows) shouldBe before.take(3)
    Caches.releaseAll()
  }
}
