package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY.md §2.3 S1/S2/D5).
  *
  * Scale shape: the query set is small and the corpus is huge, so S1
  * broadcasts the queries over a single corpus scan (no shuffle of the
  * corpus). S2/D5 bucket by a deterministic hyperplane signature so only
  * same-bucket candidates are scored — and the bucket count SCALES WITH THE
  * CORPUS (`bits = 0` auto-sizes to ~log2(n/target)): a fixed bucket count
  * would make candidate pairs grow ~n²/2^bits, quadratic at any fixed bits.
  */
object Similarity {

  /** Bucket-bit auto-sizing: enough buckets that the mean bucket holds
    * ~`targetBucket` vectors, capped at 24 bits (the int bucket id).
    * Candidate volume per table ≈ n·targetBucket instead of n²/2^bits —
    * linear in the corpus. `minBits` floors the count: dedup (high
    * threshold, recall structural) can afford many bits; top-k search needs
    * populated buckets for recall, so its floor is low. */
  private[operators] def autoBits(n: Long, targetBucket: Int, minBits: Int): Int = {
    val raw = math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt
    math.min(24, math.max(minBits, raw))
  }

  /** Top-k finish shared by S1/S2/S3: (cosine desc, neighbor_id asc) per
    * query via the native bounded-heap plan node. The earlier
    * `row_number().over(Window.partitionBy("query_id"))` finish funneled
    * every scored candidate of a query onto ONE partition — at 100 TB each
    * query's partition held the whole corpus. The TopK node keeps a k-row
    * heap per group per partition (map-side), then merges the ≤ partitions×k
    * survivors after one slim shuffle. */
  private[operators] def topKFinish(scored: DataFrame, k: Int): DataFrame =
    graft.plans.TopK.perGroupOrdered(scored, Seq("query_id"),
      Seq("cosine" -> false, "neighbor_id" -> true), k)

  /** S1: brute-force cosine top-k — the exact baseline. `queries` and
    * `corpus` need (idCol, vecCol). Returns (query_id, neighbor_id, cosine)
    * with k rows per query, self-matches excluded.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 5): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("__qv"), col("__cv")).as("cosine"))
    topKFinish(scored, k)
  }

  /** S7: int8-quantized scan with exact re-rank — S4's scalar quantization
    * composed into the S1 search shape, the memory-bound ANN configuration
    * for corpora that fit a scan but not a float32 store: the scan ranks
    * int8 CODES (4× smaller: 4× less shuffle, page cache and memory
    * bandwidth), a `shortlist` of best approximate candidates per query
    * survives, and only those rows are re-scored against the full float
    * vectors — exact cosine decides the final k, so quantization error can
    * only cost recall at the shortlist BOUNDARY, never mis-rank the
    * shortlisted.
    *
    * The approximate score needs no scales at all: cosine of dequantized
    * vectors = (qs·cs·Σqᵢcᵢ) / (qs·√Σqᵢ²·cs·√Σcᵢ²) — the scales cancel, so
    * the rank key is Σqᵢcᵢ/√(Σqᵢ²·Σcᵢ²) over pure INTEGER sums: exact,
    * order-independent, deterministic on any engine or partitioning.
    * Zero vectors (all-zero codes) have no cosine and drop out, as in S1.
    *
    * Scale shape: queries broadcast twice (codes for the scan, floats for
    * the re-rank); the corpus ships (id, codes) through the scan — never
    * float vectors — and only shortlist-sized id sets join back for
    * re-scoring (the "ship ids, not payloads" rule). Both cuts run through
    * the bounded-heap TopK node; with `shortlist` ≥ corpus size the result
    * is exactly [[bruteForceTopK]] (spec-asserted). */
  def int8TopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int = 5, shortlist: Int = 64): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    def codes(df: DataFrame, outId: String, idc: String): DataFrame = {
      val scaled = df.withColumn("__s", int8Scale(col(vecCol)))
      scaled.select(col(idc).as(outId),
        quantizeInt8(col(vecCol), col("__s")).as(s"__c_$outId"))
        .withColumn(s"__n_$outId",
          aggregate(transform(col(s"__c_$outId"), x => (x * x).cast("long")),
            lit(0L), (a, x) => a + x))
    }
    val qc = codes(queries, "query_id", idCol)
    val cc = codes(corpus, "neighbor_id", idCol)
    val scored = broadcast(qc).crossJoin(cc)
      .filter(col("query_id") =!= col("neighbor_id"))
      .filter(col("__n_query_id") > 0 && col("__n_neighbor_id") > 0)
      .select(col("query_id"), col("neighbor_id"),
        (aggregate(zip_with(col("__c_query_id"), col("__c_neighbor_id"),
            (a, b) => (a * b).cast("long")), lit(0L), (a, x) => a + x)
          .cast("double") /
          sqrt((col("__n_query_id") * col("__n_neighbor_id")).cast("double")))
          .as("cosine"))
    val short = graft.plans.TopK.perGroupOrdered(scored, Seq("query_id"),
        Seq("cosine" -> false, "neighbor_id" -> true), shortlist)
      .select("query_id", "neighbor_id")
    val exact = short
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
        "neighbor_id")
      .join(broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))),
        "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("cosine"))
    topKFinish(exact, k)
  }

  /** S15: binary (1-bit sign) quantization with asymmetric scan and exact
    * re-rank — the extreme point of the S4/S5/S7 compression ladder: the
    * corpus ships ONE BIT per dimension (dim 64 → a single long, 32× under
    * float32), the scan scores the un-quantized float query against the
    * packed sign words (Σᵢ ±qᵢ — see
    * [[graft.functions.SignDot]]; symmetric Hamming collapses
    * within-cluster order, measured recall@10 0.50 vs 0.88 asymmetric at
    * the same shortlist), a `shortlist` of best candidates per query
    * survives, and exact cosine over the full float vectors decides the
    * final k — quantization error can only cost recall at the shortlist
    * boundary, never mis-rank the shortlisted.
    *
    * Scale shape mirrors S7: queries broadcast twice (floats for the scan
    * AND the re-rank — the query side is small by contract), the corpus
    * ships (id, sign words) through the scan — never float vectors — and
    * only shortlist-sized id sets join back for re-scoring. Both cuts run
    * through the bounded-heap TopK node; with `shortlist` ≥ corpus size the
    * result is exactly [[bruteForceTopK]] (spec-asserted). Zero vectors
    * have no sign direction and no cosine; both sides drop them, as S1/S7
    * do. The asymmetric sum runs in fixed index order inside one native
    * expression, so the shortlist is deterministic on any partitioning. */
  def binaryTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int = 5, shortlist: Int = 128): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    def nonZero(df: DataFrame): DataFrame = df.filter(
      aggregate(transform(col(vecCol), x => (x * x).cast("double")),
        lit(0.0), (a, x) => a + x) > 0)
    val q = nonZero(queries).select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = nonZero(corpus).select(col(idCol).as("neighbor_id"),
      graft.functions.VectorExpressions.signPackNative(col(vecCol)).as("__w"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorExpressions.signDotNative(col("__qv"), col("__w")).as("__a"))
    val short = graft.plans.TopK.perGroupOrdered(scored, Seq("query_id"),
        Seq("__a" -> false, "neighbor_id" -> true), shortlist)
      .select("query_id", "neighbor_id")
    val exact = short
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
        "neighbor_id")
      .join(broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))),
        "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("cosine"))
    topKFinish(exact, k)
  }

  /** Probe masks for multi-probe LSH: every bucket-id XOR mask within
    * Hamming distance `radius` of zero, over `bits` signature bits. The
    * masks multiply QUERY-side candidate volume only (queries are
    * broadcast); corpus-side cost is per-table, not per-mask. */
  private[operators] def probeMasks(bits: Int, radius: Int): Seq[Int] = {
    val singles = (0 until bits).map(1 << _)
    val pairs = for (i <- 0 until bits; j <- i + 1 until bits) yield (1 << i) | (1 << j)
    val triples = for (i <- 0 until bits; j <- i + 1 until bits; l <- j + 1 until bits)
      yield (1 << i) | (1 << j) | (1 << l)
    (Seq(0) ++ (if (radius >= 1) singles else Nil) ++
      (if (radius >= 2) pairs else Nil) ++
      (if (radius >= 3) triples else Nil)).distinct
  }

  private[operators] def masksCount(bits: Int, radius: Int): Long = {
    val b = bits.toLong
    1L + (if (radius >= 1) b else 0L) +
      (if (radius >= 2) b * (b - 1) / 2 else 0L) +
      (if (radius >= 3) b * (b - 1) * (b - 2) / 6 else 0L)
  }

  /** Per-table probability that a neighbor whose per-bit disagreement
    * probability is `p` (= theta/pi for hyperplane LSH) lands within
    * Hamming `r` of the query's signature: the Binomial(bits, p) CDF at r. */
  private[operators] def tableHitProb(bits: Int, r: Int, p: Double): Double = {
    var q = 0.0
    var c = 1.0 // running C(bits, i)
    for (i <- 0 to math.min(r, bits)) {
      if (i > 0) c = c * (bits - i + 1) / i
      q += c * math.pow(p, i) * math.pow(1 - p, bits - i)
    }
    math.min(1.0, q)
  }

  /** A resolved LSH search configuration. `predictedRecall` is the
    * binomial-model estimate 1-(1-q)^tables at the design similarity (NaN
    * when the caller fixed every knob and no model was consulted). */
  private[operators] final case class LshPlan(
      bits: Int, radius: Int, tables: Int, predictedRecall: Double)

  /** Scale-invariant LSH sizing. Occupancy-based bit growth alone makes a
    * FIXED (tables, radius) configuration decay: bits grow as log2(n/64),
    * so the per-table hit probability of a neighbor at any fixed angle
    * shrinks geometrically in bits while the Hamming-radius probe count
    * stays constant — recall measured ~1.0 at test SFs would vanish at
    * production n. This planner instead treats recall as the invariant and
    * solves for the knobs:
    *
    *   1. bits from bucket occupancy (`autoBits`, unchanged),
    *   2. design similarity = the cosine of the true top-k neighbors this
    *      plan must find. On an isotropic corpus that cosine GROWS with n
    *      (extreme-value statistics: E[k-th max] ~ sqrt(2·ln(n/k)/dim)),
    *      which is what keeps the required table count sub-polynomial as
    *      bits scale. Callers with clustered corpora (closer neighbors)
    *      can pass a higher `designSim`; the isotropic default only
    *      over-provisions there.
    *   3. per radius r in 1..3, the table count T solving
    *      1-(1-q(bits,r,p))^T >= targetRecall; pick the feasible (r, T)
    *      with fewest TABLES first (each table re-hashes the corpus — the
    *      at-scale cost; probe masks only multiply the small broadcast
    *      query side), then fewest masks.
    *   4. if no (r<=3, T<=maxTables) reaches the target, shed bits —
    *      larger buckets mean more candidates per probe, the honest n^rho
    *      price of LSH at constant recall — until the prediction recovers.
    *
    * Resulting law on the isotropic default: tables grow ~log n (2 at n=1e3,
    * 3 at 1e4, ~7 at 1e6, ~16 at 1e9) while predicted recall stays at the
    * target — asserted across six decades of n in SimilaritySpec and
    * measured cross-SF in AnnScaleSpec. */
  private[graft] def lshPlan(n: Long, dim: Int, k: Int,
      fixedBits: Int = 0, fixedTables: Int = 0, fixedRadius: Int = -1,
      targetRecall: Double = 0.95, designSim: Double = Double.NaN,
      targetBucket: Int = 64, minBits: Int = 4, maxTables: Int = 48): LshPlan = {
    val s = if (designSim.isNaN)
      math.min(0.9, math.sqrt(2.0 * math.log(math.max(math.E, n.toDouble / math.max(k, 1))) / dim))
    else designSim
    val p = math.acos(math.max(-1.0, math.min(1.0, s))) / math.Pi
    def tablesFor(b: Int, r: Int): Int = {
      val q = tableHitProb(b, r, p)
      if (q >= targetRecall) 2 // floor: two independent tables minimum
      else if (q <= 1e-12) maxTables
      else math.max(2, math.min(maxTables,
        math.ceil(math.log1p(-targetRecall) / math.log1p(-q)).toInt))
    }
    def best(b: Int): LshPlan = {
      val radii = if (fixedRadius >= 0) Seq(fixedRadius) else Seq(1, 2, 3)
      val plans = radii.map { r =>
        val t = if (fixedTables > 0) fixedTables else tablesFor(b, r)
        LshPlan(b, r, t, 1 - math.pow(1 - tableHitProb(b, r, p), t))
      }
      val feasible = plans.filter(_.predictedRecall >= targetRecall)
      if (feasible.nonEmpty)
        feasible.minBy(pl => (pl.tables, masksCount(pl.bits, pl.radius)))
      else plans.maxBy(_.predictedRecall)
    }
    var plan = best(if (fixedBits > 0) fixedBits else autoBits(n, targetBucket, minBits))
    // Shed bits only when the planner owns BOTH free knobs: with tables (or
    // radius) pinned by the caller the recall target may be structurally
    // unreachable (e.g. the probes=0 structural gate) and shedding would
    // distort the requested geometry chasing it — the caller owns the
    // cost/recall trade there.
    if (fixedBits <= 0 && fixedTables <= 0 && fixedRadius < 0) {
      while (plan.predictedRecall < targetRecall && plan.bits > minBits)
        plan = best(plan.bits - 1)
    }
    plan
  }

  /** S2: LSH-bucketed ANN. Both sides are hashed into 2^bits hyperplane
    * buckets across `tables` independent hash tables; candidates = same
    * bucket in any table. The QUERY side is multi-probed (Lv et al.,
    * "Multi-Probe LSH", VLDB'07): each query also inspects the buckets
    * within Hamming distance `probes` of its own signature — a near-miss on
    * one or two hyperplanes is the dominant recall failure, and probing
    * those neighbors buys the recall of many extra hash tables for a
    * constant per-query fan-out instead of another full corpus hash pass.
    * Recall < 1 by design — the s2_recall gate bounds it against S1, and
    * AnnScaleSpec asserts it does not decay across a 100× corpus growth.
    *
    * Sizing: any of `bits` (0), `tables` (0), `probes` (-1) left at its
    * sentinel is solved by `lshPlan` so that PREDICTED recall at the design
    * similarity stays at `targetRecall` for every corpus size — fixed knobs
    * would decay as occupancy-driven bits grow with n (see `lshPlan`).
    * Explicit values always win (the structural s2 gate pins probes=0).
    *
    * `knownN`: corpus row count for the auto-sizing. When absent (< 0) the
    * operator pays ONE extra corpus action (`count()`) just to size the
    * buckets — at 100 TB that is an extra pass, so callers at scale should
    * supply it (from catalog stats, a footer-only count of the base table,
    * or pass every knob explicitly).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 5, bits: Int = 0, tables: Int = 0, dim: Int = 64,
      knownN: Long = -1L, probes: Int = -1,
      targetRecall: Double = 0.95, designSim: Double = Double.NaN): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    require(probes <= 3, s"probeMasks supports Hamming radius <= 3, got probes=$probes")
    val plan =
      if (bits > 0 && tables > 0 && probes >= 0) LshPlan(bits, probes, tables, Double.NaN)
      else {
        // explicit bits without knownN: invert the occupancy rule
        // (bits ≈ log2(n/64)) instead of paying a corpus count() — the
        // documented pass-bits-explicitly escape hatch must stay pass-free
        val n = if (knownN >= 0) knownN
          else if (bits > 0) (1L << math.min(bits, 50)) * 64
          else c.count()
        lshPlan(n, dim, k,
          fixedBits = bits, fixedTables = tables, fixedRadius = probes,
          targetRecall = targetRecall, designSim = designSim)
      }
    val b = plan.bits
    val nTables = plan.tables
    // ship ids, not payloads (SURVEY §5): the bucketed frames carry only
    // (id, table, bucket) — a vector riding the candidate dedup exchange
    // costs dim×8 bytes per bucket collision; the id costs 8
    def bucketed(df: DataFrame, id: String, vec: String, masks: Seq[Int]): DataFrame =
      df.select(col(id), col(vec),
        explode(array((for (t <- 0 until nTables; m <- masks) yield
          struct(lit(t).as("table"),
            hyperplaneBucket(col(vec), b, dim, seed = 1000 + t).bitwiseXOR(lit(m))
              .as("bucket"))): _*)).as("tb"))
        .select(col(id), col("tb.table").as("table"), col("tb.bucket").as("bucket"))

    val qFrame = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    // corpus side is consumed twice (bucketize + payload re-join) — one
    // Caches-owned scan, the embeddingDedup discipline
    val cBase = Caches.owned(c)
    val q = bucketed(broadcast(qFrame), "query_id", "__qv", probeMasks(b, plan.radius))
    val candidates = q.join(bucketed(cBase, "neighbor_id", "__cv", Seq(0)), Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    // only surviving pairs re-attach their vectors: corpus by one id-keyed
    // join (one copy of each vector, vs every bucket collision), queries
    // from the same broadcast frame
    val scored = candidates
      .join(cBase, Seq("neighbor_id"))
      .join(broadcast(qFrame), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("__qv"), col("__cv")).as("cosine"))
    topKFinish(scored, k)
  }

  /** D5: embedding-cosine near-duplicate pairs above `threshold`, via the
    * same hyperplane bucketing (candidates must collide in some table).
    * Returns (id_a, id_b, cosine), id_a < id_b.
    *
    * Scale shape: the bucket join ships only (table, bucket, id) — never the
    * vectors; candidate pairs are dedup'd on bare ids and only the surviving
    * pairs re-join their two vectors for the cosine check. `bits = 0`
    * auto-sizes the bucket count to the corpus (target bucket ≈ 16);
    * `knownN` supplies the row count for that sizing — when absent the
    * operator pays one extra corpus `count()` action (avoid at scale, see
    * `lshTopK`). The persisted staging frame is Caches-owned: consumers
    * release it with `Caches.releaseAll()` after materializing the result.
    */
  def embeddingDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.99, bits: Int = 0, tables: Int = 0, dim: Int = 64,
      knownN: Long = -1L, targetRecall: Double = 0.95): DataFrame = {
    val base = Caches.owned(df.select(col(idCol).as("id"), col(vecCol).as("vec")))
    // tables = 0 auto-sizes with the same binomial planner as lshTopK, at
    // radius 0 (dedup buckets BOTH sides, so probe masks would square the
    // candidate volume — growing tables is the recall knob here) and design
    // similarity = the dedup threshold: a pair at exactly `threshold` is
    // the hardest pair the operator promises to find, and a fixed table
    // count's recall for it decays as occupancy-sized bits grow with n.
    // Exact copies collide in every table at any size (the d5 gate's
    // planted structure is sizing-independent).
    val plan =
      if (bits > 0 && tables > 0) LshPlan(bits, 0, tables, Double.NaN)
      else lshPlan(if (knownN >= 0) knownN else base.count(), dim, k = 1,
        fixedBits = bits, fixedTables = tables, fixedRadius = 0,
        targetRecall = targetRecall, designSim = threshold,
        targetBucket = 16, minBits = 8)
    val b = plan.bits
    val nTables = plan.tables
    val buckets = base.select(col("id"),
      explode(array((0 until nTables).map(t =>
        struct(lit(t).as("table"), hyperplaneBucket(col("vec"), b, dim, seed = 2000 + t).as("bucket"))): _*)).as("tb"))
      .select(col("id"), col("tb.table").as("table"), col("tb.bucket").as("bucket"))
    val pairs = buckets.select(col("table"), col("bucket"), col("id").as("id_a"))
      .join(buckets.select(col("table"), col("bucket"), col("id").as("id_b")), Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    pairs
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("vec_a"), col("vec_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
