package graft.wikidata

import graft.operators.{SnapshotTable, SnapshotTxn}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The typed tables one ETL run produces, keyed by name: the reference's 8
  * (src/value.rs:63-112) plus the extra tables of the run's [[Surface]].
  * `core` is the shared cached parse (pruned entity structs), when
  * `run(cache = true)` built one — call `unpersist()` once the sinks are
  * done. */
final case class WikidataTables(byName: Map[String, DataFrame], core: Option[DataFrame]) {
  def meta: DataFrame = byName("meta")
  def string: DataFrame = byName("string")
  def entity: DataFrame = byName("entity")
  def coordinates: DataFrame = byName("coordinates")
  def quantity: DataFrame = byName("quantity")
  def time: DataFrame = byName("time")
  def none: DataFrame = byName("none")
  def unknown: DataFrame = byName("unknown")
  /** W38: the qualifier table + statement spine, from [[Surface.Qualified]] on. */
  def qualifiers: Option[DataFrame] = byName.get("qualifiers")
  def statements: Option[DataFrame] = byName.get("statements")
  /** W51/W52/W59: the name-and-link and provenance tables, at [[Surface.Full]]. */
  def sitelinks: Option[DataFrame] = byName.get("sitelinks")
  def aliases: Option[DataFrame] = byName.get("aliases")
  def references: Option[DataFrame] = byName.get("references")

  /** Release the cached claim core (bounded-memory long-running callers —
    * streaming micro-batches — must pair every `run` with this). */
  def unpersist(): Unit = core.foreach(_.unpersist(false))

  /** Commit the tables `names` under `tableRoot/<name>` as ONE
    * [[SnapshotTxn]] transaction, and return the committed version per
    * name: a reader resolving through the txn sees all of them or none.
    * The cached core is computed first, so the concurrent writes read it
    * instead of racing to compute it; releasing it stays with the caller.
    * An Overwrite version is sized like the one it replaces
    * ([[SnapshotTable.parentSized]]). A `tag` already published makes the
    * commit a no-op that returns the versions of that txn. */
  def commitTo(spark: SparkSession, tableRoot: String,
      names: Seq[String] = byName.keys.toSeq, mode: SnapshotTable.Mode = SnapshotTable.Overwrite,
      tag: Option[String] = None): Map[String, Long] = {
    core.foreach(_.count())
    val sized = (n: String) =>
      if (mode == SnapshotTable.Overwrite) SnapshotTable.parentSized(s"$tableRoot/$n", byName(n))
      else byName(n)
    val txn = SnapshotTxn.commit(spark, tableRoot, names.map(n => n -> sized(n)), mode, tag = tag)
    SnapshotTxn.tableVersions(tableRoot, txn).filter { case (n, _) => names.contains(n) }
  }

  /** Write all tables as parquet under `dir`, one subdirectory each.
    *
    * At scale this replaces SQLite-plus-indices (reference: src/main.rs:53-67):
    * each table is repartitioned on `id` so a given entity's claims co-locate
    * (the common access path), and sorted within partitions by
    * (property_id, id) so parquet row-group min/max stats prune both claim
    * lookups by property and id probes — the two index shapes the reference
    * builds.
    *
    * The writes are submitted CONCURRENTLY ([[SnapshotTxn.concurrently]]):
    * they all read the one cached parse, and each is small relative to the
    * parse, so serial submission leaves the cluster idle between write jobs
    * (one job-scheduling + sink latency per table on the critical path).
    */
  def writeParquet(dir: String, partitions: Int = 0): Unit = {
    // materialize the shared cache once, sequentially, before fanning out —
    // otherwise all the jobs race to compute the same uncached partitions
    core.foreach(_.count())
    SnapshotTxn.concurrently(byName.toSeq.map { case (name, df) => () =>
      val sized = if (partitions > 0) df.repartition(partitions, col("id")) else df
      val sorted =
        if (df.columns.contains("property_id"))
          sized.sortWithinPartitions("property_id", "id")
        else sized.sortWithinPartitions("id")
      sorted.write.mode("overwrite").parquet(s"$dir/$name")
    }): Unit
  }
}

object WikidataTables {
  /** Named constructor over the table frames; the benchmark calls it. */
  def apply(meta: DataFrame, string: DataFrame, entity: DataFrame,
      coordinates: DataFrame, quantity: DataFrame, time: DataFrame,
      none: DataFrame, unknown: DataFrame, core: Option[DataFrame] = None,
      qualifiers: Option[DataFrame] = None, statements: Option[DataFrame] = None,
      sitelinks: Option[DataFrame] = None, aliases: Option[DataFrame] = None,
      references: Option[DataFrame] = None): WikidataTables =
    WikidataTables(Map("meta" -> meta, "string" -> string, "entity" -> entity,
      "coordinates" -> coordinates, "quantity" -> quantity, "time" -> time,
      "none" -> none, "unknown" -> unknown) ++ qualifiers.map("qualifiers" -> _) ++
      statements.map("statements" -> _) ++ sitelinks.map("sitelinks" -> _) ++
      aliases.map("aliases" -> _) ++ references.map("references" -> _), core)
}

/** Wikidata JSON dump → normalized typed tables, the wd2sql pipeline
  * re-expressed as a declarative Spark plan.
  *
  * The reference is a sequential loop: parse line → store meta → route each
  * claim by value type into one of 7 tables (src/main.rs:69-93,
  * src/value.rs:201-261). Here the whole pipeline is column algebra over
  * DumpReader's ONE pruned `from_json` parse: `meta` is a projection of the
  * parsed struct and each claim table is an explode+filter of it — no UDFs,
  * no shuffle anywhere (the ETL is embarrassingly parallel), all inside
  * WholeStageCodegen. `run(cache = true)` caches the parsed struct (not the
  * exploded core) so ALL sinks — meta included — share a single dump
  * scan; consumers re-explode from memory, which is CPU-cheap codegen work,
  * where a second dump pass would be the expensive thing at 100 TB.
  */
object WikidataEtl {

  private val E = "entity" // pruned struct column produced by DumpReader

  /** One row per surviving statement: (id, property_id, claim), both ids
    * encoded, deprecated-rank statements dropped (reference:
    * src/main.rs:87). The explode every claim-grain table starts from. */
  private def liveStatements(entities: DataFrame): DataFrame =
    entities
      .select(col(s"$E.id").as("id_text"), explode(col(s"$E.claims")).as(Seq("pid_text", "claims")))
      .select(
        IdCodec.encodeTextCol(col("id_text")).as("id"),
        IdCodec.encodeTextCol(col("pid_text")).as("property_id"),
        explode(col("claims")).as("claim"))
      .filter(coalesce(col("claim.rank"), lit("normal")) =!= "deprecated")

  /** Exploded claim core: one row per (entity, property, claim), with the
    * snak fields every router needs extracted exactly once.
    * Deprecated-rank claims are dropped (reference: src/main.rs:87).
    */
  def claimCore(entities: DataFrame): DataFrame = {
    val staged = liveStatements(entities).select(
      col("id"), col("property_id"), col("claim.mainsnak").as("snak"))
    projectSnak(staged, Seq("id", "property_id"))
  }

  /** The snak projection shared by [[claimCore]] and [[truthyCore]]: the
    * snak is typed by the parse; only the polymorphic value is variant,
    * cast once as a bare string and once as one wide struct covering every
    * object variant's fields (absent fields → null). `keyCols` carry
    * through untouched (the truthy core keeps `claim_id`). */
  private def projectSnak(staged: DataFrame, keyCols: Seq[String]): DataFrame =
    staged.select(keyCols.map(col) ++ Seq(
      col("snak.snaktype").as("snaktype"),
      col("snak.datavalue.type").as("value_type"),
      try_variant_get(col("snak.datavalue.value"), "$", "string").as("v_string"),
      try_variant_get(col("snak.datavalue.value"), "$", WideValue).as("w")): _*)
      .select(keyCols.map(col) ++ Seq(
        col("snaktype"), col("value_type"), col("v_string"),
        col("w.text").as("v_text"),
        col("w.language").as("v_language"),
        col("w.id").as("v_entity_id"),
        col("w.latitude").as("v_lat"),
        col("w.longitude").as("v_lon"),
        col("w.precision").as("v_coord_precision"),
        col("w.globe").as("v_globe"),
        col("w.amount").as("v_amount"),
        col("w.lowerBound").as("v_lower"),
        col("w.upperBound").as("v_upper"),
        col("w.unit").as("v_unit"),
        col("w.time").as("v_time"),
        col("w.precision").cast("int").as("v_time_precision")): _*)

  /** W58: property co-occurrence audit — for each unordered property pair,
    * the number of entities asserting BOTH (claim multiplicity ignored):
    * the schema-discovery rollup KG users run to find modeling patterns
    * and anomalies ("P569 without P31"), and the raw signal behind
    * property suggestion. The reference's per-table indices can answer
    * one property at a time; the pairwise rollup needs the engine.
    *
    * Scale shape: ONE shuffle builds per-entity sorted property sets
    * (`collect_set` dedups inside the partial aggregate), the pair
    * explode runs in codegen on the grouped row, and the pair count is
    * map-side combined. Per-entity cost is quadratic only in the entity's
    * DISTINCT property count — bounded by ontology width (~1e2 on real
    * Wikidata), independent of corpus rows. */
  def propertyCooccurrence(entities: DataFrame): DataFrame = {
    val sets = claimCore(entities)
      .filter(col("id").isNotNull && col("property_id").isNotNull)
      .groupBy("id")
      .agg(sort_array(collect_set(col("property_id"))).as("ps"))
    sets
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))),
          y => struct(x.as("p1"), y.as("p2")))))).as("pr"))
      .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("n_entities"))
  }

  /** `meta`: one row per entity with English label/description or NULL
    * (reference: src/main.rs:78-84). */
  def meta(entities: DataFrame): DataFrame =
    entities.select(
      IdCodec.encodeTextCol(col(s"$E.id")).as("id"),
      col(s"$E.labels.en.value").as("label"),
      col(s"$E.descriptions.en.value").as("description"))
      .filter(col("id").isNotNull)

  /** W51: `sitelinks` — (id, site, title), one row per wiki page linked to
    * the entity. The reference drops sitelinks entirely, yet "which enwiki
    * article is Q42" is the join every wiki-corpus pipeline starts from
    * (aligning dump entities with article text). Explode of the pruned
    * map — shuffle-free, WholeStageCodegen like every routed table. Input
    * parsed at [[Surface.Full]]. */
  def sitelinksTable(entities: DataFrame): DataFrame =
    entities
      .select(IdCodec.encodeTextCol(col(s"$E.id")).as("id"),
        explode(col(s"$E.sitelinks")).as(Seq("site", "sl")))
      .select(col("id"), col("site"), col("sl.title").as("title"))
      .filter(col("id").isNotNull && col("title").isNotNull)

  /** W52: `aliases` — (id, language, alias), EVERY language's alternate
    * names (meta keeps only the one English label; the reference drops
    * aliases entirely). The other half of name lookup: "Douglas Noël
    * Adams" and "DNA" both resolve. Two nested explodes, shuffle-free.
    * Input parsed at [[Surface.Full]]. */
  def aliasesTable(entities: DataFrame): DataFrame =
    entities
      .select(IdCodec.encodeTextCol(col(s"$E.id")).as("id"),
        explode(col(s"$E.aliases")).as(Seq("language", "vals")))
      .select(col("id"), col("language"), explode(col("vals")).as("a"))
      .select(col("id"), col("language"), col("a.value").as("alias"))
      .filter(col("id").isNotNull && col("alias").isNotNull)

  /** Wikidata entity URI or bare id → encoded id (globes/units arrive as
    * "http://www.wikidata.org/entity/Q2"). */
  private def uriToId(c: Column): Column =
    IdCodec.encodeTextCol(substring_index(c, "/", -1))

  /** "+123.45" → double (Wikidata quantity amounts carry an explicit sign). */
  private def signedNum(c: Column): Column =
    regexp_replace(c, "^\\+", "").try_cast("double") // bad amounts → null, never a job failure

  /** Wikidata time "+2001-12-31T00:00:00Z" (month/day may be 00 at coarse
    * precision) → timestamp, best-effort NULL on the extreme years SQL
    * timestamps can't hold. */
  private def wikidataTime(c: Column): Column = {
    val noPlus = regexp_replace(c, "^\\+", "")
    // zero month/day (coarse precision) → January/1st; anchored so BC years
    // like "-0042" are never touched
    val fixed = regexp_replace(regexp_replace(noPlus, "-00-", "-01-"), "-00T", "-01T")
    try_to_timestamp(fixed, lit("yyyy-MM-dd'T'HH:mm:ssX"))
  }

  // ---- value routing: each table is a filter+projection of the claim core
  //      (reference: src/value.rs:201-261 From<ClaimValueData>) ----

  private def hasValue = col("snaktype") === "value"

  /** string ← string-family datatypes + monolingual text (value.rs:206,221,230,249-253). */
  def stringTable(core: DataFrame): DataFrame =
    core.filter(hasValue &&
        (col("value_type") === "string" ||
          (col("value_type") === "monolingualtext" && col("v_text").isNotNull)))
      .select(col("id"), col("property_id"),
        coalesce(col("v_text"), col("v_string")).as("string"))
      .filter(col("string").isNotNull)

  /** entity ← item/property/lexeme/form/sense references (value.rs:218-219,254-256). */
  def entityTable(core: DataFrame): DataFrame =
    core.filter(hasValue && col("value_type") === "wikibase-entityid")
      .select(col("id"), col("property_id"),
        IdCodec.encodeTextCol(col("v_entity_id")).as("entity_id"))
      .filter(col("entity_id").isNotNull)

  /** coordinates ← globe coordinates, globe URI → q_id (value.rs:207-217). */
  def coordinatesTable(core: DataFrame): DataFrame =
    core.filter(hasValue && col("value_type") === "globecoordinate")
      .select(col("id"), col("property_id"),
        col("v_lat").as("latitude"), col("v_lon").as("longitude"),
        coalesce(col("v_coord_precision"), lit(0.0)).as("precision"),
        coalesce(uriToId(col("v_globe")), lit(0L)).as("globe_id"))

  /** quantity ← amounts with optional bounds/unit; unit "1" = dimensionless
    * → NULL (value.rs:231-241). */
  def quantityTable(core: DataFrame): DataFrame =
    core.filter(hasValue && col("value_type") === "quantity")
      .select(col("id"), col("property_id"),
        signedNum(col("v_amount")).as("amount"),
        signedNum(col("v_lower")).as("lower_bound"),
        signedNum(col("v_upper")).as("upper_bound"),
        when(col("v_unit") === "1", lit(null).cast("long"))
          .otherwise(uriToId(col("v_unit"))).as("unit_id"))

  /** time ← point-in-time values with precision (value.rs:242-248). */
  def timeTable(core: DataFrame): DataFrame =
    core.filter(hasValue && col("value_type") === "time")
      .select(col("id"), col("property_id"),
        wikidataTime(col("v_time")).as("time"),
        coalesce(col("v_time_precision"), lit(0)).as("precision"))

  /** none/unknown ← novalue/somevalue snaks, plus multilingual misses
    * (value.rs:222-229,257-258). */
  def noneTable(core: DataFrame): DataFrame =
    core.filter(col("snaktype") === "novalue" ||
        (hasValue && col("value_type") === "monolingualtext" && col("v_text").isNull))
      .select("id", "property_id")

  def unknownTable(core: DataFrame): DataFrame =
    core.filter(col("snaktype") === "somevalue").select("id", "property_id")

  // ---- W34: qualifier routing (a SUPERSET of the reference, which drops
  //      qualifiers entirely — its ClaimValueData keeps only the mainsnak).
  //      One row per qualifier snak of a surviving (non-deprecated) claim,
  //      with the SAME 7-way value routing the main tables apply, flattened
  //      into one table discriminated by `kind`: qualifiers are sparse
  //      relative to claims, so seven near-empty typed sinks would pay seven
  //      write jobs for no pruning benefit, and the qualifier access path is
  //      "all qualifiers of this claim", never "all time-qualifiers". ----

  /** Wide variant cast shared by the claim core and the qualifier router. */
  private val WideValue =
    "struct<text:string,language:string,id:string,latitude:double,longitude:double," +
      "precision:double,globe:string,amount:string,lowerBound:string,upperBound:string," +
      "unit:string,time:string>"

  /** `qualifiers`: (id, property_id, claim_id, qual_property_id, kind,
    * typed value columns). Input parsed at [[Surface.Qualified]] or
    * wider. Rank filtering matches the claim core:
    * qualifiers of deprecated statements are dropped with their statement.
    * Routing mirrors [[stringTable]]..[[unknownTable]] exactly, per
    * qualifier snak — including the drop of unencodable entity refs and the
    * none-routing of text-less monolinguals — so a user can reason about
    * one routing law for both grains. */
  def qualifiersTable(entities: DataFrame): DataFrame = {
    val qsnaks = liveStatements(entities)
      .select(col("id"), col("property_id"), col("claim.id").as("claim_id"),
        explode(col("claim.qualifiers")).as(Seq("qpid_text", "qsnaks")))
      .select(col("id"), col("property_id"), col("claim_id"),
        IdCodec.encodeTextCol(col("qpid_text")).as("qual_property_id"),
        explode(col("qsnaks")).as("q"))

    routeFlatSnaks(qsnaks,
      Seq("id", "property_id", "claim_id", "qual_property_id"))
  }

  /** W59: `references` — one row per reference snak of a surviving
    * (non-deprecated) statement, routed under the SAME flattened 7-way
    * `kind` law as the qualifier table: the provenance surface the
    * reference throws away with the qualifiers. `ref_idx` keys the
    * reference RECORD (a statement can cite several sources; the snaks of
    * one record belong together — "stated in X, retrieved at T"), so
    * (claim_id, ref_idx) reconstructs each citation. The access path is
    * "the sources of this claim", never "all time-reference-snaks" — the
    * W34 sparse-satellite argument, so one flattened table, not seven.
    * Input parsed at [[Surface.Full]]; shuffle-free explodes,
    * WholeStageCodegen end to end. */
  def referencesTable(entities: DataFrame): DataFrame = {
    val rsnaks = liveStatements(entities)
      .select(col("id"), col("property_id"), col("claim.id").as("claim_id"),
        posexplode(col("claim.references")).as(Seq("ref_idx", "ref")))
      .select(col("id"), col("property_id"), col("claim_id"), col("ref_idx"),
        explode(col("ref.snaks")).as(Seq("rpid_text", "rsnaks")))
      .select(col("id"), col("property_id"), col("claim_id"), col("ref_idx"),
        IdCodec.encodeTextCol(col("rpid_text")).as("ref_property_id"),
        explode(col("rsnaks")).as("q"))
    routeFlatSnaks(rsnaks,
      Seq("id", "property_id", "claim_id", "ref_idx", "ref_property_id"))
  }

  /** W61: reference-coverage audit — per property of the surviving
    * statements: how many statements, how many carry at least one
    * citation, and how many citation records in total. The sanity check a
    * provenance consumer runs BEFORE trusting the W59 table ("is P569
    * actually sourced in this corpus?"), exactly as W44's temporal
    * coverage gates trust in validAt. One property-keyed aggregate with
    * map-side partials off the statement explode — answer is
    * property-count-sized. Input parsed at [[Surface.Full]]. */
  def referenceCoverage(entities: DataFrame): DataFrame =
    liveStatements(entities)
      .filter(col("id").isNotNull)
      .select(col("property_id"),
        coalesce(size(col("claim.references")), lit(0)).as("nrefs"))
      .groupBy("property_id")
      .agg(
        count(lit(1)).as("n_statements"),
        sum(when(col("nrefs") > 0, 1L).otherwise(0L)).as("n_referenced"),
        sum(col("nrefs").cast("long")).as("n_ref_records"))

  /** The flattened-kind routing shared by the W34 qualifier and W59
    * reference tables: input carries `keyCols` plus one snak struct `q`;
    * output is keyCols + `kind` + the 7-way typed columns under the exact
    * main-table value laws (English-else-none monolingual, unit "1" →
    * NULL, unencodable entity refs dropped). */
  private def routeFlatSnaks(snaks: DataFrame, keyCols: Seq[String]): DataFrame = {
    val routed = snaks.select(keyCols.map(col) ++ Seq(
      col("q.snaktype").as("snaktype"),
      col("q.datavalue.type").as("value_type"),
      try_variant_get(col("q.datavalue.value"), "$", "string").as("v_string"),
      try_variant_get(col("q.datavalue.value"), "$", WideValue).as("w")): _*)

    val hasValue = col("snaktype") === "value"
    val kind =
      when(col("snaktype") === "novalue", "none")
        .when(col("snaktype") === "somevalue", "unknown")
        .when(hasValue && col("value_type") === "string", "string")
        .when(hasValue && col("value_type") === "monolingualtext" && col("w.text").isNotNull, "string")
        .when(hasValue && col("value_type") === "monolingualtext", "none")
        .when(hasValue && col("value_type") === "wikibase-entityid", "entity")
        .when(hasValue && col("value_type") === "globecoordinate", "coordinates")
        .when(hasValue && col("value_type") === "quantity", "quantity")
        .when(hasValue && col("value_type") === "time", "time")
        .otherwise(lit(null).cast("string"))

    def onlyFor(k: String, c: Column): Column = when(col("kind") === k, c)

    routed.withColumn("kind", kind)
      .filter(col("kind").isNotNull)
      // unencodable entity refs: drop the row, exactly like entityTable
      .filter(!(col("kind") === "entity" &&
        IdCodec.encodeTextCol(col("w.id")).isNull))
      .select(keyCols.map(col) ++ Seq(
        col("kind"),
        onlyFor("string", coalesce(col("w.text"), col("v_string"))).as("string"),
        onlyFor("entity", IdCodec.encodeTextCol(col("w.id"))).as("entity_id"),
        onlyFor("coordinates", col("w.latitude")).as("latitude"),
        onlyFor("coordinates", col("w.longitude")).as("longitude"),
        onlyFor("coordinates", coalesce(col("w.precision"), lit(0.0))).as("coord_precision"),
        onlyFor("coordinates", coalesce(uriToId(col("w.globe")), lit(0L))).as("globe_id"),
        onlyFor("quantity", signedNum(col("w.amount"))).as("amount"),
        onlyFor("quantity", signedNum(col("w.lowerBound"))).as("lower_bound"),
        onlyFor("quantity", signedNum(col("w.upperBound"))).as("upper_bound"),
        onlyFor("quantity",
          when(col("w.unit") === "1", lit(null).cast("long"))
            .otherwise(uriToId(col("w.unit")))).as("unit_id"),
        onlyFor("time", wikidataTime(col("w.time"))).as("time"),
        onlyFor("time", coalesce(col("w.precision").cast("int"), lit(0))).as("time_precision")): _*)
  }

  /** Statement spine at claim grain for the entity-valued claims: (id,
    * property_id, claim_id, entity_id). The claim_id joins a claim to its
    * [[qualifiersTable]] rows — the key the reference never materializes
    * because it throws the qualifiers away. */
  def entityStatements(entities: DataFrame): DataFrame = {
    liveStatements(entities)
      .filter(col("claim.mainsnak.snaktype") === "value")
      .select(col("id"), col("property_id"), col("claim.id").as("claim_id"),
        col("claim.mainsnak.datavalue.type").as("value_type"),
        try_variant_get(col("claim.mainsnak.datavalue.value"), "$", WideValue).as("w"))
      .filter(col("value_type") === "wikibase-entityid")
      .select(col("id"), col("property_id"), col("claim_id"),
        IdCodec.encodeTextCol(col("w.id")).as("entity_id"))
      .filter(col("entity_id").isNotNull)
  }

  /** W46/W47: the TRUTHY claim core — Wikidata's BestRank law, the `wdt:`
    * vs `p:` SPARQL split the reference flattens away: when an entity
    * carries any PREFERRED statement for a property, only the preferred
    * ones are truthy; otherwise the normal ones are (deprecated never).
    *
    * The best flag aggregates over ALL surviving statements of the (id,
    * property) group — every value family AND novalue/somevalue snaks,
    * which carry ranks too — BEFORE any value-type routing: a preferred
    * quantity must suppress normal entity statements in the same group
    * (the law is per statement group, not per value family). An earlier
    * cut computed the flag inside the entity-valued slice only, which the
    * round-9 advisor showed diverges exactly there.
    *
    * Output: [[claimCore]]'s column set plus `claim_id`, so every routed
    * table composes — `quantityTable(truthyCore(e))` is "the preferred
    * population figures", the reference README's own example finally
    * under `wdt:` semantics. One window max over (id, property_id) — a
    * single shuffle of the claim-grain slice, no join. Input parsed at
    * [[Surface.Qualified]] or wider (statement ids key the spine). */
  def truthyCore(entities: DataFrame): DataFrame = {
    val exploded = liveStatements(entities)
      .withColumn("rank", coalesce(col("claim.rank"), lit("normal")))
    val cut = truthyCut(exploded)
      .select(col("id"), col("property_id"), col("claim.id").as("claim_id"),
        col("claim.mainsnak").as("snak"))
    projectSnak(cut, Seq("id", "property_id", "claim_id"))
  }

  /** The BestRank cut over ANY claim-grain frame carrying `id`,
    * `property_id` and a literal `rank` column ("preferred" / "normal" /
    * "deprecated") — the frame-level form [[truthyCore]] is built on, and
    * the one synthetic-graph gates compose with (W49: ontology closure
    * under `wdt:` semantics). Deprecated rows are dropped AND never
    * suppress; a preferred row suppresses every non-preferred row of its
    * (id, property) group; other columns pass through untouched. One
    * window max over (id, property_id) — a single hash shuffle. */
  def truthyCut(statements: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id", "property_id")
    statements
      .filter(col("rank") =!= "deprecated")
      .withColumn("__p", (col("rank") === "preferred").cast("int"))
      .withColumn("__hp", max(col("__p")).over(w))
      .filter(col("__p") === col("__hp"))
      .drop("__p", "__hp")
  }

  /** W46: the truthy ENTITY statement spine — [[truthyCore]] routed to the
    * entity family, the shape [[TemporalClaims.validAt]] composes with
    * (W48: "what was the preferred population at T"). */
  def truthyStatements(entities: DataFrame): DataFrame =
    truthyCore(entities)
      .filter(col("snaktype") === "value" &&
        col("value_type") === "wikibase-entityid")
      .select(col("id"), col("property_id"), col("claim_id"),
        IdCodec.encodeTextCol(col("v_entity_id")).as("entity_id"))
      .filter(col("entity_id").isNotNull)

  /** Full pipeline: parsed entities → every table of their [[Surface]]
    * (read from the parse, so the tables always match the parsed fields).
    * `cache=true` persists the PARSED entity structs so every sink — meta
    * included, which the exploded core cannot serve (it is pre-explode,
    * per-entity grain) — shares one dump scan (the distributed analogue of
    * the reference's single pass). Claim consumers re-explode from the
    * cache: in-memory codegen'd explode per sink is cheap; a second dump
    * scan is not. The wider surfaces' tables ride the same concurrent sink
    * fan-out, repartitioned on id and stat-sorted like the reference's 8
    * (and [[JdbcSink.writeTables]], which iterates `byName`, lands them all
    * relationally). */
  def run(entities: DataFrame, cache: Boolean = true): WikidataTables = {
    val surface = Surface.of(entities)
    val src  = if (cache) entities.cache() else entities
    val core = claimCore(src)
    def table(name: String): DataFrame = name match {
      case "meta" => meta(src)
      case "string" => stringTable(core)
      case "entity" => entityTable(core)
      case "coordinates" => coordinatesTable(core)
      case "quantity" => quantityTable(core)
      case "time" => timeTable(core)
      case "none" => noneTable(core)
      case "unknown" => unknownTable(core)
      case "qualifiers" => qualifiersTable(src)
      case "statements" => entityStatements(src)
      case "sitelinks" => sitelinksTable(src)
      case "aliases" => aliasesTable(src)
      case "references" => referencesTable(src)
    }
    WikidataTables(surface.tableNames.map(n => n -> table(n)).toMap,
      if (cache) Some(src) else None)
  }

  /** [[run]]; the benchmark calls it. */
  def runFull(entities: DataFrame, cache: Boolean = true): WikidataTables = run(entities, cache)

  /** End-to-end: dump path → parquet tables of `surface` at `outDir`. The
    * cached claim core is released after the writes (callers re-reading the
    * tables should read the written parquet, not the returned frames). */
  def runFile(spark: SparkSession, dumpPath: String, outDir: String, partitions: Int = 0,
      surface: Surface = Surface.Core): WikidataTables = {
    val tables = run(DumpReader.read(spark, dumpPath, surface))
    tables.writeParquet(outDir, partitions)
    tables.unpersist()
    tables
  }
}
