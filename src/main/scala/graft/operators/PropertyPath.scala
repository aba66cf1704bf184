package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Transitive property-path closure — the `wdt:P279+` reachability core of
  * the `wdt:P279*` / `wdt:P31/wdt:P279*` query shape (reference
  * README.md:129-156 does single-step conjunctive claims; SPARQL's paths
  * are the natural next ask of the same entity table). NOTE: `closure`
  * returns pairs at >= 1 hops (`+` semantics); SPARQL `*` additionally
  * includes the zero-hop (x, x) pairs — `QueryApi.pathClosure`, which
  * wires this to the wd2sql surface, adds them by default.
  *
  * Algorithm: path doubling. Round k holds every (src, dst) pair within
  * 2^k hops, so the fixpoint lands in O(log diameter) rounds — a frontier
  * BFS is O(diameter) rounds, and on a 100-deep ontology chain driver
  * round-trips, not shuffle volume, dominate (the D6 lesson; CC uses the
  * same round discipline and lineage truncation). The doubling join is
  * self-join-on-dst=src — edge-volume shuffles keyed on node ids.
  *
  * Scale note: this materializes the FULL closure of the property subgraph
  * it is given. That is the right unit for ontology-shaped properties
  * (P279/P31 span millions of classes, not the 100 TB claim set — filter
  * the entity table to the property FIRST, as `QueryApi.pathClosure` does).
  * For one-off single-root questions over huge diameters a frontier loop
  * ships fewer total bytes; the closure is the reusable artifact (every
  * "instance of, transitively" filter downstream is then one semi-join),
  * and QueryApi does reuse it: each instance computes the closure of a
  * path step once (through [[PathAlgebra.eval]]'s `closures` hook) and
  * every later `path`/`pathClosure` query over that step reads it.
  *
  * `reliable = true` swaps `localCheckpoint` for reliable `checkpoint`
  * (requires `sparkContext.setCheckpointDir`) — executor-loss-safe rounds
  * at the cost of writing each round to the checkpoint filesystem; same
  * trade as [[ConnectedComponents.run]].
  */
object PropertyPath {

  /** The closure plus the round count it took (spec hook: the O(log d)
    * bound is asserted, not assumed). */
  final case class Closure(pairs: DataFrame, rounds: Int)

  /** Full reachability closure of a (child, parent) edge list: every
    * (src, dst) with dst reachable from src in >= 1 hops. First two columns
    * of `edges` are used; self-loops dropped. */
  def closureWithStats(edges: DataFrame, maxRounds: Int = 20,
      reliable: Boolean = false): Closure = {
    val Seq(ca, cb) = edges.columns.take(2).toSeq
    // one job per round, not two: the round's checkpoint materialization
    // IS a count — localCheckpointCounted returns the number the separate
    // `count()` action used to recompute (driver round-trips dominate
    // iterative loops at any scale; guide §1.2). Reliable mode keeps the
    // two-action shape (durable checkpoints need the FS write path).
    def checkpointCounted(df: DataFrame): (DataFrame, Long) =
      if (reliable) { val c = df.checkpoint(true); (c, c.count()) }
      else org.apache.spark.sql.graft.ColumnBridge.localCheckpointCounted(df)
    var (r, n) = checkpointCounted(
      edges.select(col(ca).cast("long").as("src"), col(cb).cast("long").as("dst"))
        .filter(col("src") =!= col("dst") && col("dst").isNotNull)
        .distinct())
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      // pairs within 2^(k+1) hops = pairs within 2^k ∪ (2^k ∘ 2^k)
      val doubled = r.as("x")
        .join(r.as("y"), col("x.dst") === col("y.src"))
        .select(col("x.src").as("src"), col("y.dst").as("dst"))
      val (next, nn) = checkpointCounted(r.unionByName(doubled).distinct())
      done = nn == n
      // a checkpointed round is self-contained; the superseded round's
      // blocks can never be read again (same ownership rule as CC)
      org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(r)
      r = next
      n = nn
      rounds += 1
    }
    Closure(r, rounds)
  }

  /** Closure pairs only — the common call. */
  def closure(edges: DataFrame, maxRounds: Int = 20,
      reliable: Boolean = false): DataFrame =
    closureWithStats(edges, maxRounds, reliable).pairs

  /** W27: minimum HOP DISTANCES from a source set along (src, dst) edges —
    * the "how far up the ontology is this class" / "degrees of separation"
    * question the boolean closure cannot answer. Frontier BFS with a
    * min-dist visited set: round k settles every node at distance k, so
    * the loop runs O(radius) rounds shipping (node, dist) ids only — the
    * right trade for distance queries (path doubling would need min-plus
    * joins carrying a dist column through every doubling, more shuffle
    * volume for the same answer; closure stays the doubling's job).
    * Each round is checkpointed and the superseded one released (the CC
    * ownership rule). Unreachable nodes are absent from the result.
    * Throws if `maxRounds` rounds leave an unsettled frontier. */
  def hopDistances(edges: DataFrame, sources: DataFrame, maxRounds: Int = 64,
      reliable: Boolean = false): DataFrame = {
    val Seq(ca, cb) = edges.columns.take(2).toSeq
    def checkpointCounted(df: DataFrame): (DataFrame, Long) =
      if (reliable) { val c = df.checkpoint(true); (c, c.count()) }
      else org.apache.spark.sql.graft.ColumnBridge.localCheckpointCounted(df)
    val (e, _) = checkpointCounted(
      edges.select(col(ca).cast("long").as("src"), col(cb).cast("long").as("dst"))
        .filter(col("dst").isNotNull).distinct())
    val srcCol = sources.columns.head
    // `settled` is the FLAT UNION of the checkpointed frontiers, not a
    // per-round re-materialization: each round used to checkpoint the
    // grown settled set again — a second action writing O(|settled|)
    // superseded blocks every round (O(R·V) total churn). The union's
    // plan stays flat (≤ maxRounds checkpointed leaves) and scans the
    // same bytes the settled copy held. Frontier blocks now back the
    // RESULT, so they are owned by the ContextCleaner (the CC rule:
    // freeing them early would make the result un-recomputable).
    var (frontier, frontierN) = checkpointCounted(sources
      .select(col(srcCol).cast("long").as("id")).distinct()
      .withColumn("dist", lit(0L)))
    var parts = Vector(frontier)
    def settled: DataFrame = parts.reduce(_ unionByName _)
    var round = 0
    while (frontierN > 0) {
      require(round < maxRounds,
        s"hopDistances did not settle within $maxRounds rounds")
      round += 1
      val (next, nextN) = checkpointCounted(
        frontier.join(e, col("id") === col("src"))
          .select(col("dst").as("id"))
          .distinct()
          .join(settled.select("id"), Seq("id"), "left_anti")
          .withColumn("dist", lit(round.toLong)))
      parts :+= next
      frontier = next
      frontierN = nextN
    }
    settled
  }

  /** W29: single-pair shortest-path distance with its MEET CERTIFICATE —
    * "how are X and Y related, and through what" — via BIDIRECTIONAL BFS:
    * expand a forward frontier from `srcId` and a backward frontier (over
    * reversed edges) from `dstId`, always growing the SMALLER one. Result:
    * every node u lying on SOME shortest src→dst path — the nodes with
    * dist(src, u) + dist(u, dst) = D — as (meet_id, dist = D) rows, empty
    * if unreachable. The certificate is a deterministic, engine-replayable
    * set (no arbitrary single-path tiebreak to pin down).
    *
    * Why bidirectional: a single-source BFS explores O(b^D) nodes; meeting
    * in the middle explores O(b^(D/2)) from each end — on a KG with
    * branching in the hundreds this is the difference between touching the
    * whole graph and touching two small balls. The smaller-frontier rule
    * keeps the balls balanced when one side hits a hub (the root of an
    * ontology expands everything in one hop; the leaf side stays narrow,
    * so it does the walking).
    *
    * Two phases. DISTANCE first, with the classic soundness bound: after
    * expanding to depths (a, b), ANY path of length L <= a + b has a node
    * settled on both sides (its position-(L-b) node), so once the best
    * meet candidate satisfies candidate <= a + b, no shorter path can
    * exist — D is final. Then the CERTIFICATE: the full on-path set needs
    * dist(src, u) AND dist(u, dst) for every u with their sum = D, so both
    * sides complete their BFS **bounded to depth D** — the distance phase
    * has capped the exploration radius at D, where a single exhaustive BFS
    * would explore to the graph's eccentricity before knowing it could
    * stop. A side whose frontier empties has its complete reachable set
    * settled and stops contributing early. `maxRounds` bounds the DEPTH of
    * either side. Each round ships (id, dist) pairs only; same
    * checkpoint-and-release discipline as [[hopDistances]]. */
  def shortestMeet(edges: DataFrame, srcId: Long, dstId: Long,
      maxRounds: Int = 64, reliable: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    val Seq(ca, cb) = edges.columns.take(2).toSeq
    def checkpoint(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    def checkpointCounted(df: DataFrame): (DataFrame, Long) =
      if (reliable) { val c = df.checkpoint(true); (c, c.count()) }
      else org.apache.spark.sql.graft.ColumnBridge.localCheckpointCounted(df)
    val fwd = checkpoint(
      edges.select(col(ca).cast("long").as("src"), col(cb).cast("long").as("dst"))
        .filter(col("dst").isNotNull).distinct())
    val bwd = checkpoint(fwd.select(col("dst").as("src"), col("src").as("dst")))

    // settled = union of the side's checkpointed frontiers (the
    // hopDistances representation: one action per expansion instead of
    // three — counted checkpoint of the new frontier, no re-checkpoint of
    // the grown settled set; frontier blocks back the result, so the
    // ContextCleaner owns them)
    final case class Side(var parts: Vector[DataFrame], var frontier: DataFrame,
      var depth: Int, var n: Long, edges: DataFrame) {
      def settled: DataFrame = parts.reduce(_ unionByName _)
    }
    def mkSide(id: Long, e: DataFrame): Side = {
      val s = checkpoint(spark.range(id, id + 1)
        .select(col("id"), lit(0L).as("d")))
      Side(Vector(s), s, 0, 1L, e)
    }
    val a = mkSide(srcId, fwd)
    val b = mkSide(dstId, bwd)

    def expand(s: Side): Unit = {
      s.depth += 1
      val (next, nextN) = checkpointCounted(
        s.frontier.join(s.edges, col("id") === col("src"))
          .select(col("dst").as("id")).distinct()
          .join(s.settled.select("id"), Seq("id"), "left_anti")
          .withColumn("d", lit(s.depth.toLong)))
      s.parts :+= next
      s.frontier = next
      s.n = nextN
    }
    def meets: DataFrame = a.settled.select(col("id"), col("d").as("__da"))
      .join(b.settled.select(col("id"), col("d").as("__db")), "id")
      .select(col("id").as("meet_id"), (col("__da") + col("__db")).as("dist"))
    // the min-dist probe over a (sub)set of meet pairs — one small agg job
    def minDist(pairs: DataFrame): Long =
      pairs.agg(min("dist")).head() match {
        case r if r.isNullAt(0) => Long.MaxValue
        case r => r.getLong(0)
      }

    var best = minDist(meets) // src == dst settles at 0 immediately
    while (best > (a.depth.toLong + b.depth.toLong) && (a.n > 0 || b.n > 0)) {
      // expand the smaller LIVE frontier; an exhausted side certifies
      // distances by completeness, so only the other can still learn
      val side = if (a.n == 0) b else if (b.n == 0) a else if (a.n <= b.n) a else b
      require(side.depth < maxRounds,
        s"shortestMeet did not settle within depth $maxRounds")
      expand(side)
      // INCREMENTAL candidate: an expand adds exactly `side.frontier` to
      // one settled set, so every NEW meet pair involves a new-frontier
      // node — probe new-frontier × other-settled (a small, flat join)
      // and fold into the running best, instead of re-joining the two
      // full settled unions (whose re-planned join grew O(rounds) leaves
      // per side every round). Same action count, strictly fewer bytes.
      val other = if (side eq a) b else a
      val fresh = side.frontier.select(col("id"), col("d").as("__da"))
        .join(other.settled.select(col("id"), col("d").as("__db")), "id")
        .select(col("id").as("meet_id"), (col("__da") + col("__db")).as("dist"))
      best = math.min(best, minDist(fresh))
    }
    if (best == Long.MaxValue)
      spark.emptyDataFrame.select(lit(0L).as("meet_id"), lit(0L).as("dist")).limit(0)
    else {
      // certificate phase: complete both sides to the now-known radius D
      for (side <- Seq(a, b)) while (side.depth < best && side.n > 0) {
        require(side.depth < maxRounds,
          s"shortestMeet did not settle within depth $maxRounds")
        expand(side)
      }
      meets.filter(col("dist") === best)
    }
  }
  /** W31: ontology cycle audit — the data-quality query behind Wikidata's
    * recurring "P279 loop" bug class (a subclass chain that reaches
    * itself): `on_cycle` marks every class that reaches ITSELF through the
    * closure (it sits on a directed cycle), and the report lists every
    * class whose ancestor chain passes through such a node — the classes
    * whose "all superclasses" answers are silently unreliable until the
    * loop is fixed. Pure composition over [[closure]]: cycle members are
    * exactly the (x, x) self-pairs of the reachability set (path doubling
    * converges on cyclic graphs — the pair set is finite and UNION-deduped
    * per round), and the taint is one semi-join against them. Cyclic nodes
    * are data BUGS and therefore rare, so they broadcast; the closure
    * itself is the usual O(log diameter) distributed computation. Returns
    * (id, on_cycle) for every affected class, cycle members flagged. */
  def cycleAudit(edges: DataFrame, maxRounds: Int = 20,
      reliable: Boolean = false): DataFrame = {
    val cl = closure(edges, maxRounds, reliable)
    val cyc = cl.filter(col("src") === col("dst"))
      .select(col("src").as("__cyc")).distinct()
    cl.join(broadcast(cyc), cl("dst") === col("__cyc"), "left_semi")
      .select(col("src").as("id")).distinct()
      .join(broadcast(cyc.select(col("__cyc").as("id"),
        lit(true).as("__on"))), Seq("id"), "left")
      .select(col("id"), coalesce(col("__on"), lit(false)).as("on_cycle"))
  }
}
