package graft.operators

import graft.{Gate, Tables}
import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gate queries for the training-data operators (SURVEY.md §2.3).
  *
  * The testdata corpus has no planted duplicates, so the near-dup gates build
  * a derived corpus from `documents`: every doc plus a perturbed copy
  * (truncated tail / slightly shifted embedding, id offset by 1,000,000).
  * The operators must re-find exactly those planted pairs — a self-checking
  * construction that stays honest at any scale factor.
  */
object LlmOps {

  private val CopyOffset = 1000000L

  /** Planted-signal constants shared by the d12/t21 gates and the p11
    * composed pipeline (and interpolated into their DuckDB oracles, so the
    * two engines can never drift): a 12-token duplicated chunk and a
    * 10-token spam tail. */
  private val Chunk12 =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val SpamTail =
    "buy cheap pills now click here free offer winner prize"

  /** documents ∪ near-duplicate copies (text truncated ~10%). */
  private def parallelism(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** The planted corpora are memoized as persisted frames per (session,
    * dir), so a gate that reads one several times materializes it once.
    * Gate-harness code, not library surface. Owned via `clearPlanted`,
    * which the gate runner (`graft.Gates.run`) calls after every gate: each
    * gate pays its own staging, and leaked blocks must not squeeze later
    * gates' execution memory. */
  private val plantedCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  /** Unpersist and forget the memoized planted corpora. Without this the
    * map strongly references persisted frames (and through them their
    * SparkSessions) for the JVM lifetime. */
  def clearPlanted(): Unit = {
    val it = plantedCache.values().iterator()
    while (it.hasNext) {
      try it.next().unpersist(false)
      catch { case _: Throwable => () } // session already stopped
    }
    plantedCache.clear()
  }

  private def plantedDocs(s: SparkSession, dir: String): DataFrame =
    plantedDocsVariant(s, dir, "docs",
      expr("substring(text, 1, greatest(20, int(length(text) * 0.9)))"))

  /** d2's corpus: EXACT text copies. MinHash recall on an identical set is
    * structural (est_jaccard ≡ 1, every band collides), so the oracle's
    * "every planted pair recovered" is deterministic at any SF — the same
    * reasoning d5 uses (perturbation provably preserves the signature).
    * A 10%-truncated copy does NOT give that guarantee: measured at sf0.01,
    * 1 of 500 planted pairs dips below est 0.5 — near-dup tolerance is the
    * spec's job (DedupSpec), recall of the machinery is this gate's. */
  private def plantedDocsExact(s: SparkSession, dir: String): DataFrame =
    plantedDocsVariant(s, dir, "docs_exact", col("text"))

  /** d3's corpus: token-REVERSED copies. SimHash is a bag-of-token-hashes
    * function, so reversing token order provably preserves the 64-bit
    * signature (hamming = 0) while the copy's text genuinely differs —
    * recall through the block-pair index is structural, like d5. Truncated
    * copies flip > maxHamming bits for ~12% of docs (measured). */
  private def plantedDocsPermuted(s: SparkSession, dir: String): DataFrame =
    plantedDocsVariant(s, dir, "docs_perm",
      array_join(reverse(split(lower(trim(col("text"))), "\\s+")), " "))

  private def plantedDocsVariant(s: SparkSession, dir: String, key: String,
      copyText: org.apache.spark.sql.Column): DataFrame =
    plantedCache.computeIfAbsent((s, dir, key), _ => {
      // documents.parquet is a single small file → 1 scan partition; the
      // signature computation is CPU-bound, so spread it across the cluster
      // before the heavy projection (at real scale the scan already has
      // thousands of partitions and this repartition is a no-op to remove)
      val docs = Tables(s, dir).documents.select("doc_id", "text")
        .repartition(parallelism(s))
      docs.unionAll(
        docs.select((col("doc_id") + CopyOffset).as("doc_id"), copyText.as("text")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** embeddings ∪ slightly-perturbed copies. */
  private def plantedVecs(s: SparkSession, dir: String): DataFrame =
    plantedCache.computeIfAbsent((s, dir, "vecs"), _ => {
      val vecs = Tables(s, dir).embeddings.select("vec_id", "embedding")
        .repartition(parallelism(s))
      vecs.unionAll(
        vecs.select((col("vec_id") + CopyOffset).as("vec_id"),
          VectorFunctions.add(col("embedding"),
            VectorFunctions.scale(col("embedding"), lit(0.01))).as("embedding")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** s2/s3's corpus: embeddings ∪ EXACT copies (id + 1e6). An identical
    * vector has the identical hyperplane signature in every LSH table and
    * the identical nearest-centroid cell, so "each planted query's top-1
    * neighbor is its exact copy at cosine 1" is structural — the same
    * planted-ground-truth construction d5 uses, applied to search instead
    * of dedup. (Full top-k recall on the natural corpus stays statistical
    * and is spec-gated against S1.) */
  private def plantedVecsExact(s: SparkSession, dir: String): DataFrame =
    plantedCache.computeIfAbsent((s, dir, "vecsx"), _ => {
      val vecs = Tables(s, dir).embeddings.select("vec_id", "embedding")
        .repartition(parallelism(s))
      // The structural oracle's top-1 tiebreak (unrounded cosine, then
      // neighbor_id asc) assumes no TWO BASE VECTORS are bitwise identical —
      // an exact natural duplicate with a smaller id would outrank a query's
      // own planted copy on a correct engine. The corpus is synthetic random
      // floats so this never fires in practice; assert it loudly (once per
      // memoized build) rather than let a future corpus change surface as a
      // baffling hash mismatch.
      val Array(n, distinct) = vecs
        .agg(count(lit(1)), countDistinct(md5(to_json(col("embedding")))))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      require(n == distinct,
        s"s2/s3 structural oracle needs distinct base vectors ($dir: $n rows, $distinct distinct)")
      vecs.unionAll(
        vecs.select((col("vec_id") + CopyOffset).as("vec_id"), col("embedding")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** The t27/t28 shared dirty plant over the documents table (see the
    * t27 gate comment for what each residue class plants and why). */
  private def t27Dirty(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
      val docs = Tables(s, dir).documents
      val dirty = docs.select(col("doc_id"), concat(
        lit("  \t"), col("text"),
        when(col("doc_id") % 2 === 0, lit("\r\nCafe\u0301 au lait"))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit(" می\u200Cروم\u200B"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit(" क्\u200Dष"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" ＨＩ！　世界"))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" zap\u200Czip")).otherwise(lit(""))
      ).as("text"))
      dirty
  }

  def gates: Seq[Gate] = Seq(
    Gate("d1_exact_dedup",
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin) { (s, dir) =>
      Dedup.dupStats(Tables(s, dir).documents, "text", "doc_id")
    },

    Gate("d2_minhash_lsh",
      // d2/d3 planted-pair recall: the gates return exactly the recovered
      // planted pairs, the oracle is the full planted set — a missed pair (or
      // a phantom exactly-offset pair) breaks the hash. Recall is structural,
      // not statistical: d2's copies are textually identical (est_jaccard ≡ 1,
      // every band collides) and d3's are token-reversed (simhash is a bag
      // function — identical signature, hamming 0), so the full pipeline
      // (signatures → blocking → bucket join → dedup → threshold) must emit
      // exactly these pairs at any scale factor.
      "SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents") { (s, dir) =>
      // planted-pair RECALL gate (mirrors d5): every (id, id+1e6) planted
      // pair must be re-found — ids only, SQL-expressible even though the
      // est_jaccard hash family is not. An id difference of exactly 1e6 can
      // only be an original and its own copy, so the filter selects planted
      // pairs and nothing else. Near-dup tolerance + estimate accuracy stay
      // spec-gated (DedupSpec).
      Dedup.minhashLsh(plantedDocsExact(s, dir), "text", "doc_id", threshold = 0.5)
        .filter(col("id_b") === col("id_a") + CopyOffset)
        .select("id_a", "id_b")
        .orderBy("id_a")
    },

    Gate("d3_simhash", "SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents") { (s, dir) =>
      // same recall construction over the token-reversed corpus (signature
      // provably preserved, text different)
      Dedup.simhashPairs(plantedDocsPermuted(s, dir), "text", "doc_id", maxHamming = 7)
        .filter(col("id_b") === col("id_a") + CopyOffset)
        .select("id_a", "id_b")
        .orderBy("id_a")
    },

    Gate("d4_ngram_jaccard",
      // Exact n-gram Jaccard re-derived from scratch: same planted corpus,
      // word 3-shingle sets, |∩| as a count aggregation over the inverted
      // index, |∪| from the set sizes. Spark hashes shingles (xxhash64) while
      // this uses the strings — counts agree absent 64-bit collisions, and
      // the result is the pure semantic set {pairs: J >= 0.5}.
      """WITH corpus AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS id,
        |         substr(text, 1, greatest(20, CAST(trunc(length(text)*0.9) AS INT))) AS text
        |  FROM documents
        |), toks AS (
        |  SELECT id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM corpus
        |), sets AS (
        |  SELECT id, list_distinct(
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' ')) END) AS s
        |  FROM toks
        |), ex AS (
        |  SELECT id, unnest(s) AS sh FROM sets
        |), inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.id < b.id
        |  GROUP BY 1, 2
        |), sizes AS (
        |  SELECT id, len(s) AS sz FROM sets
        |)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
        |  FROM inter JOIN sizes sa ON inter.id_a = sa.id
        |             JOIN sizes sb ON inter.id_b = sb.id
        |) WHERE jaccard >= 0.5""".stripMargin) { (s, dir) =>
      // prefix-filtered (AllPairs) candidates + exact verification: the
      // result is {pairs: J >= 0.5} independent of the blocking, so the
      // DuckDB re-derivation is a full end-to-end oracle
      Dedup.ngramJaccardDedup(plantedDocs(s, dir), "text", "doc_id", threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    Gate("d6_dedup_clusters",
      // D6: the d4 pair derivation (same CTEs) extended by a recursive-CTE
      // transitive closure: comp(id) = min id reachable in the undirected pair
      // graph; singletons label themselves. Component minima are unique, so
      // the result is independent of how either engine orders the traversal.
      (componentCteSql +
      """
        |SELECT c.id, coalesce(p.component, c.id) AS component,
        |       coalesce(p.component, c.id) = c.id AS is_canonical
        |FROM corpus c LEFT JOIN comp p ON c.id = p.id""".stripMargin)) { (s, dir) =>
      // the full fuzzy-dedup pipeline: exact-Jaccard near-dup PAIRS (d4's
      // operator) chained into CLUSTERS by connected components, one
      // canonical doc (min id) per cluster. Pairwise dedup alone over-keeps
      // on chains (A~B, B~C but A!~C); the component view is what a real
      // 100 TB pipeline drops rows by. Result is blocking- and
      // iteration-order-independent (component minima are unique), so the
      // DuckDB recursive-CTE re-derivation is a full end-to-end oracle.
      val corpus = plantedDocs(s, dir)
      val pairs = Dedup.ngramJaccardDedup(corpus, "text", "doc_id", threshold = 0.5)
        .select("id_a", "id_b")
      ConnectedComponents.labels(corpus.select(col("doc_id")), pairs)
        .withColumn("is_canonical", col("id") === col("component"))
        .orderBy("id")
    },

    Gate("d5_embed_dedup",
      // The planted ground truth, derived independently: every vector pairs
      // with exactly its 1.01-scaled copy (same direction → identical
      // hyperplane signs in EVERY table, so LSH recall is structurally 1;
      // float perturbation keeps cosine within 1e-14 of 1.0, far inside the
      // 6dp round). Gates recall AND precision: a missed planted pair or any
      // false positive above 0.999 breaks the hash.
      """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, 1.0 AS cosine
        |FROM embeddings""".stripMargin) { (s, dir) =>
      // knownN: bucket sizing from a footer-only count of the base parquet
      // (2× for the planted copies) instead of an extra pass over the
      // assembled corpus
      val n = 2 * graft.Tables(s, dir).embeddings.count()
      Similarity.embeddingDedup(plantedVecs(s, dir), "vec_id", "embedding",
          threshold = 0.999, dim = 64, knownN = n)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    },

    Gate("d10_semantic_dedup",
      // D10: every planted copy collapses onto its base (min id), every
      // base survives — a missed copy (extra survivor) or a natural merge
      // (missing base) breaks the hash either way
      "SELECT vec_id AS kept_id FROM embeddings ORDER BY 1") { (s, dir) =>
      // SemDeDup-style cluster-scoped dedup over the planted-copy corpus:
      // identical vectors share a cell by construction (assignment is a
      // pure function of the vector), every (base, base+1e6) pair scores
      // cosine 1 ≥ 0.999, components collapse to the base id — so the
      // survivor set is EXACTLY the base corpus. A natural pair ≥ 0.999
      // would break d5's precision gate first; recall/precision on
      // synthetic clusters and the cells=1 ≡ global-dedup law are
      // SemanticDedupSpec's.
      val n = 2 * Tables(s, dir).embeddings.count()
      SemanticDedup.dedup(plantedVecsExact(s, dir), "vec_id", "embedding",
          threshold = 0.999, cells = IvfAnn.ivfPlan(n).cells, knownN = n)
        .select(col("id").as("kept_id"))
        .orderBy("kept_id")
    },

    Gate("d11_line_dedup",
      // D11: keep-first line dedup re-derived from scratch over the same
      // planted corpus — DuckDB groups by the trimmed line STRING where Spark
      // groups by xxhash64 of it (the d4/d7 collision argument); the winner
      // is the same min (doc_id, line_no) on both engines.
      """WITH p AS (
        |  SELECT doc_id,
        |    'ACCEPT COOKIES TO CONTINUE' || chr(10) || text
        |    || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'limited time promo offer' ELSE '' END
        |    || CASE WHEN doc_id % 6 = 0 THEN chr(10) || text ELSE '' END AS text
        |  FROM documents
        |), l AS (
        |  SELECT doc_id, i - 1 AS ln, trim(arr[i]) AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS arr FROM p) s,
        |    unnest(range(1, len(arr) + 1)) AS u(i)
        |  WHERE trim(arr[i]) <> ''
        |), k AS (
        |  SELECT doc_id, ln, line FROM (
        |    SELECT doc_id, ln, line,
        |      row_number() OVER (PARTITION BY line ORDER BY doc_id, ln) AS rk
        |    FROM l) WHERE rk = 1
        |), ka AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines_kept,
        |    string_agg(line, chr(10) ORDER BY ln) AS text
        |  FROM k GROUP BY doc_id
        |), la AS (
        |  SELECT doc_id, count(*) AS n_total FROM l GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(ka.text, '') AS text,
        |  coalesce(ka.n_lines_kept, 0) AS n_lines_kept,
        |  CAST(coalesce(la.n_total, 0) - coalesce(ka.n_lines_kept, 0) AS BIGINT) AS n_lines_dropped
        |FROM documents d LEFT JOIN ka USING (doc_id) LEFT JOIN la USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      // The synthetic corpus is single-line, so plant the line structure
      // the operator exists for: a corpus-wide cookie banner (only the
      // global first occurrence — doc 0 line 0 — survives), a promo line
      // shared by docs ≡0 (mod 4), and an intra-doc repeat of the doc's
      // own body for docs ≡0 (mod 6). Both engines run the same generic
      // keep-first derivation over the planted text — nothing about the
      // planted set is hard-coded in either.
      val docs = Tables(s, dir).documents
      val planted = docs.select(col("doc_id"), concat(
        lit("ACCEPT COOKIES TO CONTINUE\n"),
        col("text"),
        when(col("doc_id") % 4 === 0, lit("\nlimited time promo offer"))
          .otherwise(lit("")),
        when(col("doc_id") % 6 === 0, concat(lit("\n"), col("text")))
          .otherwise(lit(""))).as("text"))
      SpanDedup.lineDedup(planted, "text", "doc_id").orderBy("doc_id")
    },

    Gate("d12_substr_dedup",
      // D12: ExactSubstr re-derived from scratch — 8-token window STRINGS
      // grouped directly (Spark uses the order-sensitive 64-bit window-hash
      // kernel; equal gram ⟺ equal hash mod collisions), redundant = not the
      // group's min (doc, pos), gaps-and-islands merge at pos <= prev + 8,
      // removal by anti-containment, clean text re-joined in token order.
      s"""WITH p AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' $Chunk12' ELSE '' END
        |    || CASE WHEN doc_id % 9 = 0 THEN ' $Chunk12' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' uno dos tres cuatro cinco seis siete ocho' ELSE '' END AS text
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM p
        |), g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    array_to_string(list_slice(toks, i + 1, i + 8), ' ') AS gram
        |  FROM t, unnest(range(0, len(toks) - 8 + 1)) AS u(i)
        |  WHERE len(toks) >= 8
        |), r AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rk,
        |      count(*) OVER (PARTITION BY gram) AS c
        |    FROM g) WHERE c >= 2 AND rk > 1
        |), isl AS (
        |  SELECT doc_id, pos,
        |    sum(CASE WHEN prev IS NOT NULL AND pos <= prev + 8 THEN 0 ELSE 1 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM (SELECT doc_id, pos,
        |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM r)
        |), sp AS (
        |  SELECT doc_id, island, min(pos) AS s, max(pos) + 8 AS e
        |  FROM isl GROUP BY doc_id, island
        |), agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(e - s) AS BIGINT) AS n_removed_tokens
        |  FROM sp GROUP BY doc_id
        |), tok AS (
        |  SELECT doc_id, CAST(j AS BIGINT) AS pos, toks[j + 1] AS tok
        |  FROM t, unnest(range(0, len(toks))) AS u(j)
        |), keep AS (
        |  SELECT k.doc_id, k.pos, k.tok FROM tok k
        |  WHERE NOT EXISTS (SELECT 1 FROM sp
        |    WHERE sp.doc_id = k.doc_id AND k.pos >= sp.s AND k.pos < sp.e)
        |), ct AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |  FROM keep GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(a.n_spans, 0) AS n_spans,
        |  coalesce(a.n_removed_tokens, 0) AS n_removed_tokens,
        |  coalesce(ct.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN agg a USING (doc_id) LEFT JOIN ct USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      // ExactSubstr planting: a shared 12-token chunk on docs ≡0 (mod 3)
      // (five overlapping 8-windows merging into one cross-doc span), the
      // SAME chunk twice back-to-back on docs ≡0 (mod 9) (adjacent-span
      // merge plus the boundary windows' own duplicate group), and a
      // distinct exactly-8-token chunk on docs ≡0 (mod 5) (single-window
      // span). The first occurrence of every duplicated window (min doc,
      // pos) keeps its copy on both engines — generic keep-first removal,
      // no planted ids in the oracle.
      val docs = Tables(s, dir).documents
      val chunk8 = "uno dos tres cuatro cinco seis siete ocho"
      val planted = docs.select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 3 === 0, lit(" " + Chunk12)).otherwise(lit("")),
        when(col("doc_id") % 9 === 0, lit(" " + Chunk12)).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" " + chunk8)).otherwise(lit(""))).as("text"))
      SpanDedup.substringDedup(planted, "text", "doc_id", minTokens = 8)
        .orderBy("doc_id")
    },

    Gate("d16_edit_join",
      // D16: identical label derivation + typo planting, then the ed<=1 pair
      // set by BRUTE-FORCE cross join with DuckDB's own levenshtein — the
      // strongest possible oracle for a candidate-pruned join: any pair the
      // deletion-neighborhood index missed (or invented) breaks the hash.
      """WITH base AS (
        |  SELECT doc_id, substr(text, 1, 12) AS lbl
        |  FROM documents WHERE doc_id < 2000),
        |typos AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    substr(lbl, 1, 2) || 'z' || substr(lbl, 4, 9) AS lbl
        |  FROM base WHERE doc_id % 10 = 0),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM typos)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(a.lbl, b.lbl) AS INTEGER) AS dist
        |FROM corpus a JOIN corpus b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.lbl, b.lbl) <= 1
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      // bounded edit-distance join over 12-char pseudo-labels (the corpus
      // has no label column, so derive one), with planted single-char-
      // substitution typos (+1e6 ids) on mod-10 docs. doc_id < 2000 keeps
      // the ORACLE's brute-force cross join affordable at sf0.1 while the
      // operator itself never cross-joins; natural prefix collisions
      // (equal labels, dist 0) are part of the surface on both engines.
      val docs = Tables(s, dir).documents.filter(col("doc_id") < 2000)
      val base = docs.select(col("doc_id"),
        substring(col("text"), 1, 12).as("lbl"))
      val typos = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(substring(col("lbl"), 1, 2), lit("z"),
            substring(col("lbl"), 4, 9)).as("lbl"))
      EditJoin.pairsWithinEd1(base.unionByName(typos), "doc_id", "lbl")
        .orderBy("a_id", "b_id")
    },

    Gate("d15_url_dedup",
      // D15: replant the identical URL spellings, then replay the documented
      // canonicalization contract with DuckDB's own string/list kernels
      // (lowercase scheme+host, default port, www., fragment, tracking
      // params, bytewise param sort, trailing slash) and keep min(doc_id)
      // per canonical string — generic derivation, no planted ids.
      """WITH planted AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.Example.COM'
        |          ELSE 'https://example.com' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
        |    || '/docs/' || CAST(doc_id // 4 AS VARCHAR)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 2 = 0 THEN '?b=2&utm_source=feed&a=1'
        |          ELSE '?a=1&b=2' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END) AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
        |                         '^([^/?#]*)', 1)) AS hostport,
        |    regexp_replace(regexp_extract(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
        |                                  '^[^/?#]*(.*)$', 1), '#.*$', '') AS nofrag
        |  FROM planted),
        |canon AS (
        |  SELECT doc_id,
        |    scheme || '://' ||
        |    regexp_replace(
        |      CASE WHEN scheme = 'http'  THEN regexp_replace(hostport, ':80$', '')
        |           WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |           ELSE hostport END, '^www\.', '') ||
        |    (CASE WHEN regexp_extract(nofrag, '^([^?]*)', 1) = '' THEN '/'
        |          ELSE regexp_replace(regexp_extract(nofrag, '^([^?]*)', 1), '(.)/$', '\1') END) ||
        |    (CASE WHEN len(p) > 0 THEN '?' || array_to_string(p, '&') ELSE '' END) AS canon_url
        |  FROM (SELECT doc_id, scheme, hostport, nofrag,
        |          list_sort(list_filter(string_split(regexp_extract(nofrag, '\?(.*)$', 1), '&'),
        |            q -> q <> '' AND NOT regexp_matches(q, '^(utm_[^=]*|gclid|fbclid|ref)=')
        |          )) AS p
        |        FROM parts))
        |SELECT doc_id, canon_url FROM (
        |  SELECT min(doc_id) AS doc_id, canon_url FROM canon GROUP BY canon_url)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // URL-level dedup over planted URLs: docs 4k..4k+3 spell the SAME
      // page four ways — host case + www. (evens), explicit :443 (mod 3),
      // trailing slash (mod 4), shuffled params + a utm_ tracker (evens),
      // a fragment (mod 5) — so each group of four collapses to doc 4k.
      // The oracle replants the identical strings and replays the
      // documented canonicalization contract with its own string/list
      // kernels — generic derivation, no planted ids.
      val docs = Tables(s, dir).documents
      val planted = docs.select(col("doc_id"), concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS://WWW.Example.COM"))
          .otherwise(lit("https://example.com")),
        when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
        lit("/docs/"), expr("doc_id div 4").cast("string"),
        when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0, lit("?b=2&utm_source=feed&a=1"))
          .otherwise(lit("?a=1&b=2")),
        when(col("doc_id") % 5 === 0, lit("#section-2")).otherwise(lit(""))
      ).as("url"))
      Urls.dedupByUrl(planted, "doc_id", "url").orderBy("doc_id")
    },

    Gate("d14_soft_dedup",
      // D14: group sizes over the planted-copy corpus, weights in exact
      // per-mille floor division — grouping on text ≡ grouping on md5(text)
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 9 = 0
        |), sizes AS (
        |  SELECT text, CAST(count(*) AS BIGINT) AS n_copies
        |  FROM corpus GROUP BY text
        |)
        |SELECT c.doc_id, s.n_copies,
        |       CAST(1000 // s.n_copies AS BIGINT) AS weight_pm
        |FROM corpus c JOIN sizes s ON c.text = s.text""".stripMargin) { (s, dir) =>
      // D14 over a planted-copy corpus: mod-3 docs gain one exact copy
      // (id+1e6), mod-9 docs a second (id+2e6) — so weights land at
      // 1000/500/333 per-mille by group size. Both engines run the same
      // generic group-size derivation over the planted text.
      val docs = Tables(s, dir).documents.select("doc_id", "text")
      val corpus = docs
        .unionAll(docs.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + CopyOffset).as("doc_id"), col("text")))
        .unionAll(docs.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 2 * CopyOffset).as("doc_id"), col("text")))
      Dedup.softDedupWeights(corpus, "text", "doc_id").orderBy("doc_id")
    },

    Gate("d13_keep_best",
      // D13: the d6 component derivation extended by a keep-best election —
      // argmax(length(text)) per component, ties to MIN id, replayed as a
      // window argmax so the oracle is order-independent exactly when the
      // operator is.
      (componentCteSql +
      """, lab AS (
        |  SELECT c.id, coalesce(p.component, c.id) AS component,
        |         length(c.text) AS ln
        |  FROM corpus c LEFT JOIN comp p ON c.id = p.id
        |), win AS (
        |  SELECT component, id AS kept_id,
        |         row_number() OVER (PARTITION BY component
        |                            ORDER BY ln DESC, id ASC) AS rn
        |  FROM lab
        |)
        |SELECT l.id, l.component, w.kept_id, l.id = w.kept_id AS is_kept
        |FROM lab l JOIN win w ON l.component = w.component AND w.rn = 1""".stripMargin)) { (s, dir) =>
      // D13 over the d4/d6 planted corpus: pairs = exact n-gram Jaccard
      // >= 0.5 (the d4 operator), score = length(text). A truncated copy is
      // strictly shorter than its base, so keep-best elects the base — but
      // both engines run the same generic argmax(score, min-id tiebreak)
      // derivation over the generic pair graph; nothing planted is
      // hard-coded on either side.
      val corpus = plantedDocs(s, dir)
      val pairs = Dedup.ngramJaccardDedup(corpus, "text", "doc_id", threshold = 0.5)
        .select("id_a", "id_b")
      Dedup.keepBestPerCluster(corpus, "doc_id", pairs, length(col("text")))
        .orderBy("id")
    },

    Gate("s1_cosine_topk",
      // Brute-force cosine re-derived with double math in the kernel's exact
      // accumulation order (left fold seeded at 0.0) — bit-identical doubles,
      // so the 6dp round matches too.
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
        |), c AS (
        |  SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
        |), scored AS (
        |  SELECT query_id, neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(1, len(qv)+1), i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))),
        |      (a,b) -> a + b)
        |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         list_transform(range(1, len(qv)+1), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))),
        |         (a,b) -> a + b))
        |       * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(range(1, len(cv)+1), i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))),
        |           (a,b) -> a + b))) AS cosine
        |  FROM q, c WHERE query_id <> neighbor_id
        |)
        |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
        |  FROM scored) WHERE rk <= 5""".stripMargin) { (s, dir) =>
      val vecs = Tables(s, dir).embeddings.repartition(parallelism(s))
      Similarity.bruteForceTopK(vecs.filter(col("vec_id") < 5), vecs, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "neighbor_id")
    },

    // Structural oracle (was rows-only through round 4): corpus = embeddings
    // ∪ exact copies; every query vector's copy shares its bucket in EVERY
    // hash table, so the top-1 neighbor is the copy at cosine 1 regardless
    // of how the statistical tail of the top-k shakes out. Gates the full
    // path — signature kernel, band join, candidate dedup, scoring, bounded-
    // heap finish. Top-k recall on the natural corpus is spec-gated vs S1.
    Gate("s2_lsh_ann",
      // Structural: each query's top-1 over the exact-copy planted corpus is
      // its copy (vec_id + 1e6) at cosine 1 — identical vectors share every
      // hyperplane bucket (s2) and the nearest-centroid cell (s3), and the
      // kernel's cosine(v,v) is 1 to within 1 ulp, far inside the 6dp round.
      copyTop1OracleSql) { (s, dir) =>
      val vecs = plantedVecsExact(s, dir)
      // knownN from the base parquet footers — no extra pass over the
      // repartitioned corpus just to size the buckets
      val n = 2 * Tables(s, dir).embeddings.count()
      // probes = 0, tables = 4 pinned: the structural gate needs no
      // multi-probe and no recall provisioning (the exact copy shares the
      // query's own bucket in every table — one table would do); search
      // QUALITY with the auto-planned path is what s2_recall gates. Left to
      // the planner, probes = 0 would demand max tables to hit the recall
      // target this gate doesn't measure.
      Similarity.lshTopK(vecs.filter(col("vec_id") < 32), vecs, "vec_id", "embedding",
          k = 1, dim = 64, knownN = n, probes = 0, tables = 4)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "neighbor_id")
    },

    // Driver-visible recall bound for LSH ANN on the NATURAL corpus — the
    // structural planted gate (s2) proves the machinery end to end; this one
    // bounds search QUALITY where ground truth is the exact S1 scan. Both
    // rankings are deterministic (fixed hyperplane seeds, exact cosine), so
    // "LSH top-10 recovers >= 90% of the exact top-10 pairs" is a pure
    // function of the data, asserted in-plan as a boolean (the r9_approx
    // construction — the hash family itself is not SQL-expressible, the
    // bound is).
    Gate("s2_recall",
      // s2_recall: the recall bound is asserted in-plan (the r9_approx
      // construction) — an LSH run recovering < 90% of the exact top-10 flips
      // the boolean and breaks the hash.
      recallOracleSql) { (s, dir) =>
      val base = Tables(s, dir).embeddings
      val vecs = base.repartition(parallelism(s))
      val n = base.count() // footer-only count of the base parquet
      val queries = vecs.filter(col("vec_id") < 32)
      val exact = Similarity.bruteForceTopK(queries, vecs, "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val approx = Similarity.lshTopK(queries, vecs, "vec_id", "embedding", k = 10,
          knownN = n)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(
          countDistinct(col("query_id")).as("n_queries"),
          (sum(coalesce(col("__hit"), lit(0))).cast("double") / count(lit(1)) >= 0.9)
            .as("recall_ok"))
    },

    // Same structural construction for IVF: the quantizer is trained on the
    // BASE corpus (distinct vectors → distinct deterministic seeds), then
    // the planted corpus is searched. A query and its exact copy get the
    // identical nearest-centroid assignment, so the copy always sits in the
    // rank-1 probed cell and wins top-1 at cosine 1.
    Gate("s3_ivf_ann", copyTop1OracleSql) { (s, dir) =>
      val base  = Tables(s, dir).embeddings.repartition(parallelism(s))
      val vecs  = plantedVecsExact(s, dir)
      val cents = IvfAnn.trainCentroids(base, "embedding", k = 8, iters = 3,
        knownN = Tables(s, dir).embeddings.count())
      IvfAnn.topK(vecs.filter(col("vec_id") < 32), vecs, "vec_id", "embedding",
          cents, k = 1, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "neighbor_id")
    },

    // IVF counterpart of s2_recall. An isotropic random corpus is IVF's
    // WORST case (true neighbors scatter across Voronoi cells of noise), so
    // the honest bound is lower than LSH's: measured 0.665-0.678 across all
    // three SFs at nprobe=3/k=8, vs 0.375 expected for probing 3 random
    // cells — the gate at >= 0.55 sits above uninformed probing with margin
    // under every measurement, and catches assignment/probe regressions.
    // Clustered-corpus recall >= 0.9 stays spec-gated (IvfAnnSpec).
    Gate("s3_recall", recallOracleSql) { (s, dir) =>
      val base = Tables(s, dir).embeddings
      val vecs = base.repartition(parallelism(s))
      val n = base.count()
      val queries = vecs.filter(col("vec_id") < 32)
      val cents = IvfAnn.trainCentroids(vecs, "embedding", k = 8, iters = 3, knownN = n)
      val exact = Similarity.bruteForceTopK(queries, vecs, "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val approx = IvfAnn.topK(queries, vecs, "vec_id", "embedding", cents,
          k = 10, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(
          countDistinct(col("query_id")).as("n_queries"),
          (sum(coalesce(col("__hit"), lit(0))).cast("double") / count(lit(1)) >= 0.55)
            .as("recall_ok"))
    },

    // S8 structural gate: filtered ANN down the IVF path (selectivity 0.5
    // ≫ BruteCutoff) — even-id queries, even-id predicate: each query's
    // exact copy (+1e6 keeps parity) passes the filter, shares the
    // query's cell, and wins top-1 at cosine 1. The predicate BITES: odd
    // base vectors are excluded, so any post-filter leak that lets an
    // odd near-neighbor outrank the copy breaks the hash.
    Gate("s8_filtered_ann",
      // s8: planted-copy top-1 under the parity predicate (copies keep parity)
      """SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id, 1.0 AS cosine
        |FROM embeddings WHERE vec_id < 64 AND vec_id % 2 = 0""".stripMargin) { (s, dir) =>
      val base  = Tables(s, dir).embeddings.repartition(parallelism(s))
      val vecs  = plantedVecsExact(s, dir)
      val cents = IvfAnn.trainCentroids(base, "embedding", k = 8, iters = 3,
        knownN = Tables(s, dir).embeddings.count())
      FilteredAnn.topK(vecs.filter(col("vec_id") < 64 && col("vec_id") % 2 === 0),
          vecs, "vec_id", "embedding", pred = col("vec_id") % 2 === 0,
          k = 1, centroids = cents, nprobe = 3, selectivity = 0.5)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "neighbor_id")
    },

    // S8 recall vs the FILTERED brute-force ground truth (label < 5,
    // ~0.48 selectivity): the 1/selectivity nprobe inflation (3 → 7 of 8
    // cells) holds filtered recall at-or-above the unfiltered s3 bar on
    // the same isotropic worst-case corpus.
    Gate("s8_recall", recallOracleSql) { (s, dir) =>
      val base = Tables(s, dir).embeddings
      val vecs = base.repartition(parallelism(s))
      val n = base.count()
      val queries = vecs.filter(col("vec_id") < 32)
      val pred = col("label") < 5
      val cents = IvfAnn.trainCentroids(vecs, "embedding", k = 8, iters = 3, knownN = n)
      val exact = Similarity.bruteForceTopK(queries, vecs.filter(pred),
          "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val approx = FilteredAnn.topK(queries, vecs, "vec_id", "embedding",
          pred, k = 10, centroids = cents, nprobe = 3, selectivity = 0.48)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(
          countDistinct(col("query_id")).as("n_queries"),
          (sum(coalesce(col("__hit"), lit(0))).cast("double") / count(lit(1)) >= 0.55)
            .as("recall_ok"))
    },

    // S7 structural gate: identical vectors quantize to identical int8
    // codes (element-wise IEEE ops), so a planted copy's integer-dot score
    // is the self-cosine 1.0 — it heads any shortlist, and the exact
    // re-rank pins it at top-1. shortlist=∞ ≡ bruteForceTopK is spec'd.
    Gate("s7_int8_rerank",
      // s7: planted-copy top-1 — identical codes, exact re-rank at cosine 1
      copyTop1OracleSql) { (s, dir) =>
      val vecs = plantedVecsExact(s, dir)
      Similarity.int8TopK(vecs.filter(col("vec_id") < 32), vecs, "vec_id",
          "embedding", k = 1, shortlist = 8)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "neighbor_id")
    },

    // S7 recall vs S1 on the natural corpus: the int8 scan only mis-ranks
    // within quantization error (~1/127 per element), so a 64-candidate
    // shortlist for a top-10 cut loses nothing measurable — measured 1.0
    // at all three SFs; the 0.9 bound leaves margin for corpus refresh
    // while still catching any scoring/shortlist regression.
    Gate("s7_recall", recallOracleSql) { (s, dir) =>
      val vecs = Tables(s, dir).embeddings.repartition(parallelism(s))
      val queries = vecs.filter(col("vec_id") < 32)
      val exact = Similarity.bruteForceTopK(queries, vecs, "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val approx = Similarity.int8TopK(queries, vecs, "vec_id", "embedding",
          k = 10, shortlist = 64)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(
          countDistinct(col("query_id")).as("n_queries"),
          (sum(coalesce(col("__hit"), lit(0))).cast("double") / count(lit(1)) >= 0.9)
            .as("recall_ok"))
    },

    // S15 structural gate, the s7 construction at 1 bit/dim: an exact copy
    // packs to IDENTICAL sign words, and the asymmetric score of a copy is
    // the query's own Σ|qᵢ| — the maximum any sign pattern can reach, and
    // (base sign patterns being distinct, asserted in plantedVecsExact's
    // frame) uniquely reached — so the copy heads every shortlist and the
    // exact re-rank pins it at top-1/cosine 1. shortlist=∞ ≡ bruteForceTopK
    // is spec'd in SimilaritySpec.
    Gate("s15_binary_rerank",
      // s15: planted-copy top-1 — identical sign words maximize the
      // asymmetric score, exact re-rank at cosine 1
      copyTop1OracleSql) { (s, dir) =>
      val vecs = plantedVecsExact(s, dir)
      Similarity.binaryTopK(vecs.filter(col("vec_id") < 32), vecs, "vec_id",
          "embedding", k = 1, shortlist = 8)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "neighbor_id")
    },

    // S15 recall vs S1 on the natural corpus: one sign bit per dimension is
    // the lossiest rung of the quantization ladder, so the shortlist does
    // the recall work — 128 candidates for a top-10 cut measured 0.98 /
    // 0.98 / 0.88 at sf0.001/0.01/0.1 (the symmetric-Hamming formulation
    // measured 0.50 at sf0.1 — the asymmetric scorer is load-bearing, and
    // this gate is what catches anyone "simplifying" it away). Bound 0.8
    // leaves corpus-refresh margin while still failing on any scorer or
    // shortlist regression.
    Gate("s15_recall", recallOracleSql) { (s, dir) =>
      val vecs = Tables(s, dir).embeddings.repartition(parallelism(s))
      val queries = vecs.filter(col("vec_id") < 32)
      val exact = Similarity.bruteForceTopK(queries, vecs, "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val approx = Similarity.binaryTopK(queries, vecs, "vec_id", "embedding",
          k = 10, shortlist = 128)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(
          countDistinct(col("query_id")).as("n_queries"),
          (sum(coalesce(col("__hit"), lit(0))).cast("double") / count(lit(1)) >= 0.8)
            .as("recall_ok"))
    },

    // S6 structural gate, the s3/s5 constructions composed: the index is
    // trained on the BASE corpus, the planted exact-copy corpus is encoded
    // and searched. A query and its copy share the nearest-centroid cell
    // (deterministic assignment), hence the same residual, hence the same
    // PQ codes (first-index argmin) — so the copy sits in the rank-1 probed
    // cell with the minimal-possible ADC distance neighborhood, survives
    // any sane shortlist, and the exact re-rank puts it at top-1, cosine 1.
    Gate("s6_ivfpq_ann",
      // s6: same planted-copy top-1 construction as s2/s3 — copies share cell
      // AND PQ codes, and the exact re-rank makes the final ranking cosine's
      copyTop1OracleSql) { (s, dir) =>
      val base = Tables(s, dir).embeddings.repartition(parallelism(s))
      val n = Tables(s, dir).embeddings.count()
      val vecs = plantedVecsExact(s, dir)
      val index = IvfPq.build(base, "embedding", cells = 8, m = 8, k = 64, knownN = n)
      val enc = IvfPq.encode(vecs, "vec_id", "embedding", index)
      IvfPq.search(vecs.filter(col("vec_id") < 32), enc, vecs, "vec_id", "embedding",
          index, k = 1, nprobe = 3, shortlist = 64)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "neighbor_id")
    },

    // S9: the SAME planted-copy contract as s6, but searched entirely
    // from the PERSISTED index — codebooks round-tripped through the
    // snapshot tables (doubles survive parquet bit-exactly), candidates
    // from the published encoded store. A serialization fault anywhere —
    // centroid order, codeword layout, codes — breaks top-1 at cosine 1.
    Gate("s9_persisted_ann",
      // s9: planted-copy top-1 from the persisted index — same contract as s6
      copyTop1OracleSql) { (s, dir) =>
      val n = Tables(s, dir).embeddings.count()
      val vecs = plantedVecsExact(s, dir)
      val root = graft.Scratch.fresh("s9_index")
      val built = IvfPq.build(Tables(s, dir).embeddings.repartition(parallelism(s)),
        "embedding", cells = 8, m = 8, k = 64, knownN = n)
      AnnIndexStore.save(s, root, built, IvfPq.encode(vecs, "vec_id", "embedding", built))
      val (index, encoded) = AnnIndexStore.load(s, root)
      IvfPq.search(vecs.filter(col("vec_id") < 32), encoded, vecs, "vec_id", "embedding",
          index, k = 1, nprobe = 3, shortlist = 64)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "neighbor_id")
    },

    // X18: streaming ANN index maintenance — the offline job trains and
    // publishes the S9 index with the BASE corpus encoded; the planted
    // exact copies then arrive as 3 streamed shards, each Append-committed
    // under the frozen codebooks. Search from the maintained state must
    // put every base query's STREAMED copy at top-1/cosine 1 (a lost
    // batch breaks it), and the state row count rides along so a
    // double-applied batch breaks the hash too. Replay no-ops, shard-split
    // independence and state ≡ batch re-encode are StreamingAnnIngestSpec's.
    // S11: the full production query over the persisted store — metadata
    // predicate (persisted IN the encoded table) × tombstones × ADC
    // search. Structural: parity survives the +1e6 copy offset, so an
    // even query's copy passes the even-only predicate and heads the
    // ranking at cosine 1; tombstoning the mod-4 copies then removes
    // those winners, and the generic output booleans encode exactly
    // which ids may appear. Regime split and exactness are spec'd.
    Gate("s11_filtered_store",
      // s11: live even copies head the ranking; odd/deleted ids never appear
      """SELECT vec_id AS query_id, vec_id % 4 <> 0 AS copy_returned,
        |       false AS odd_returned, false AS deleted_returned
        |FROM embeddings WHERE vec_id < 64 AND vec_id % 2 = 0""".stripMargin) { (s, dir) =>
      val n = Tables(s, dir).embeddings.count()
      val vecs = plantedVecsExact(s, dir)
      val root = graft.Scratch.fresh("s11_index")
      val built = IvfPq.build(Tables(s, dir).embeddings.repartition(parallelism(s)),
        "embedding", cells = 8, m = 8, k = 64, knownN = n)
      AnnIndexStore.save(s, root, built,
        IvfPq.encode(vecs, "vec_id", "embedding", built)
          .withColumn("even", col("vec_id") % 2 === 0))
      val dead = vecs.filter(col("vec_id") < CopyOffset && col("vec_id") % 4 === 0)
        .select((col("vec_id") + CopyOffset).as("id"))
      AnnIndexStore.delete(s, root, dead)
      AnnIndexStore.searchFiltered(s, root,
          vecs.filter(col("vec_id") < 64 && col("vec_id") % 2 === 0),
          vecs, "vec_id", "embedding",
          pred = col("even"), selectivity = 0.5, k = 5, nprobe = 3, shortlist = 64)
        .join(dead.withColumnRenamed("id", "neighbor_id")
          .withColumn("__dead", lit(1)), Seq("neighbor_id"), "left")
        .groupBy("query_id")
        .agg(
          (max(when(col("neighbor_id") === col("query_id") + CopyOffset, 1)
            .otherwise(0)) === 1).as("copy_returned"),
          (max(when(col("neighbor_id") % 2 =!= 0, 1).otherwise(0)) === 1)
            .as("odd_returned"),
          (max(coalesce(col("__dead"), lit(0))) === 1).as("deleted_returned"))
        .orderBy("query_id")
    },

    // S12: NATURAL-corpus recall bound for the filtered persisted store —
    // the s8_recall construction routed entirely through searchFiltered:
    // top-10 through the store under the even-id predicate must recover
    // ≥ 55% of the exact filtered ground truth (s3's bound; the
    // structural s11 gate pins correctness, this pins QUALITY), asserted
    // in-plan as a hash-gated boolean.
    Gate("s12_store_recall",
      // s12: the store's filtered recall bound, asserted in-plan
      recallOracleSql) { (s, dir) =>
      val base = Tables(s, dir).embeddings
      val vecs = base.repartition(parallelism(s))
      val n = base.count()
      val root = graft.Scratch.fresh("s12_index")
      val built = IvfPq.build(vecs, "embedding", cells = 8, m = 8, k = 64, knownN = n)
      AnnIndexStore.save(s, root, built,
        IvfPq.encode(vecs, "vec_id", "embedding", built)
          .withColumn("even", col("vec_id") % 2 === 0))
      val queries = vecs.filter(col("vec_id") < 32)
      val exact = Similarity.bruteForceTopK(queries,
          vecs.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val approx = AnnIndexStore.searchFiltered(s, root, queries, vecs,
          "vec_id", "embedding", pred = col("even"), selectivity = 0.45,
          k = 10, nprobe = 3, shortlist = 64)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(
          countDistinct(col("query_id")).as("n_queries"),
          (sum(coalesce(col("__hit"), lit(0))).cast("double") / count(lit(1)) >= 0.55)
            .as("recall_ok"))
    },

    // S14: distributed k-NN JOIN — EVERY base vector is a query (no
    // broadcastable query set exists, the regime S1/S3 cannot serve); the
    // right side is the planted corpus, so each left row's exact copy
    // shares its home cell and must come back at top-1/cosine 1 through
    // the cell-cohabitation shuffle join. The oracle enumerates the full
    // n-row answer. Full-probe ≡ brute-force and the no-broadcast shape
    // are IvfAnnSpec's.
    Gate("s14_knn_join",
      // s14: every base row recovers its planted copy through the join
      s14OracleSql) { (s, dir) =>
      val n = Tables(s, dir).embeddings.count()
      val vecs = plantedVecsExact(s, dir)
      IvfAnn.knnJoin(Tables(s, dir).embeddings.repartition(parallelism(s)),
          vecs, "vec_id", "vec_id", "embedding",
          k = 1, cells = 8, nprobe = 3, excludeSelf = true, knownN = 2 * n)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id")
    },

    // S17: the S14 join under sign quantization — the cell shuffle ships
    // packed sign words (32× under float32), the asymmetric SignDot scan
    // shortlists, exact cosine re-ranks. Same structural oracle as s14:
    // each query's planted exact copy packs to identical words, uniquely
    // maximizes the asymmetric score, heads the shortlist and re-ranks to
    // top-1 at cosine 1 — a shortlist leak, a scan mis-rank or a re-rank
    // drift all break the hash. Equivalence laws are IvfAnnSpec's.
    Gate("s17_quantized_knn_join",
      // S17: the identical planted-copy law — quantization, the shortlist
      // and the re-rank are all invisible to the top-1
      s14OracleSql) { (s, dir) =>
      val n = Tables(s, dir).embeddings.count()
      val vecs = plantedVecsExact(s, dir)
      IvfAnn.knnJoinQuantized(Tables(s, dir).embeddings.repartition(parallelism(s)),
          vecs, "vec_id", "vec_id", "embedding",
          k = 1, cells = 8, nprobe = 3, shortlist = 16,
          excludeSelf = true, knownN = 2 * n)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id")
    },

    // S13: REINDEX under drift — the s10 store (odd copies tombstoned) is
    // re-trained at a DIFFERENT geometry (8 → 12 cells) from its live
    // membership; the in-gate requires prove the new geometry took and the
    // tombstones folded away, and the hash carries (a) the s10 search
    // contract re-derived through the REBUILT index — even queries' copies
    // still head the ranking at cosine 1, deleted ids never resurface even
    // though the tombstone table is now EMPTY (a membership leak in the
    // re-encode would flip this) — and (b) the store's exact row count
    // (2n minus the deleted odd copies). Metadata carry-over, racing
    // deletes and membership equality are AnnIndexStoreSpec's.
    Gate("s15_reindex_advisor",
      // s13: the s10 contract survives the rebuild, and the re-encoded
      // store holds exactly the live membership (2n minus odd copies)
      // S15: both phases re-derived as pure arithmetic over the embeddings
      // count — the sidecar fold and the decision plumbing are invisible.
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM embeddings),
        |d AS (SELECT CAST(count(*) AS BIGINT) AS t FROM embeddings WHERE vec_id % 7 = 0)
        |SELECT * FROM (
        |  SELECT 'before' AS phase, c AS rows_indexed, c AS rows_latest,
        |    CAST(0 AS BIGINT) AS n_tombstones, 1.0 AS growth,
        |    0.0 AS deleted_share, false AS should_reindex
        |  FROM n
        |  UNION ALL
        |  SELECT 'after', c, 2 * c, t, 2.0,
        |    CAST(t AS DOUBLE) / (2 * c), true
        |  FROM n, d)
        |ORDER BY phase""".stripMargin) { (s, dir) =>
      // S15: the drift-triggered maintenance decision, metadata-priced —
      // a fresh index advises nothing; after an X18-style frozen-codebook
      // append DOUBLES the store (ids + 1e6) and every 7th base id is
      // tombstoned, growth hits exactly 2.0 and the advisor flips. All
      // evidence columns are exact-countable from the embeddings table,
      // so DuckDB re-derives both phases as literal arithmetic; the R62
      // fold (the 'after' call folds incrementally from the 'before'
      // sidecar) is invisible to the numbers, which is the point.
      val emb = Tables(s, dir).embeddings
      val n = emb.count()
      val root = graft.Scratch.fresh("s15_index")
      val built = IvfPq.build(emb.repartition(parallelism(s)), "embedding",
        cells = 8, m = 8, k = 64, knownN = n)
      AnnIndexStore.save(s, root, built,
        IvfPq.encode(emb, "vec_id", "embedding", built))
      val before = AnnIndexStore.reindexAdvisor(s, root, "vec_id")
      require(!before.reindex, s"fresh index must not advise reindex: $before")
      graft.streaming.StreamingAnnIngest.applyBatch(s,
        emb.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
        0L, "vec_id", "embedding", built, root)
      AnnIndexStore.delete(s, root,
        emb.filter(col("vec_id") % 7 === 0).select(col("vec_id").as("id")))
      val after = AnnIndexStore.reindexAdvisor(s, root, "vec_id")
      require(after.reindex, s"doubled+deleted store must advise reindex: $after")
      import s.implicits._
      Seq(
        ("before", before.rowsIndexed, before.rowsLatest, before.tombstones,
          before.growth, before.deletedShare, before.reindex),
        ("after", after.rowsIndexed, after.rowsLatest, after.tombstones,
          after.growth, after.deletedShare, after.reindex))
        .toDF("phase", "rows_indexed", "rows_latest", "n_tombstones",
          "growth", "deleted_share", "should_reindex")
        .orderBy("phase")
    },

    Gate("s13_reindex",
      """SELECT vec_id AS query_id, vec_id % 2 = 0 AS copy_returned,
        |       false AS deleted_returned,
        |       CAST((SELECT count(*) * 2 FROM embeddings)
        |            - (SELECT count(*) FROM embeddings WHERE vec_id % 2 = 1)
        |         AS BIGINT) AS n_store
        |FROM embeddings WHERE vec_id < 32""".stripMargin) { (s, dir) =>
      val n = Tables(s, dir).embeddings.count()
      val vecs = plantedVecsExact(s, dir)
      val root = graft.Scratch.fresh("s13_index")
      val built = IvfPq.build(Tables(s, dir).embeddings.repartition(parallelism(s)),
        "embedding", cells = 8, m = 8, k = 64, knownN = n)
      AnnIndexStore.save(s, root, built,
        IvfPq.encode(vecs, "vec_id", "embedding", built))
      val dead = vecs.filter(col("vec_id") < CopyOffset && col("vec_id") % 2 === 1)
        .select((col("vec_id") + CopyOffset).as("id"))
      AnnIndexStore.delete(s, root, dead)
      val (index2, encoded2) = AnnIndexStore.reindex(s, root, vecs,
        "vec_id", "embedding", cells = 12, m = 8, k = 64)
      require(index2.centroids.size == 12, "reindex must apply the new geometry")
      require(AnnIndexStore.tombstones(s, root).count() == 0L,
        "reindex must fold tombstones away")
      val stored = encoded2.count()
      AnnIndexStore.searchWithDeletes(s, root,
          vecs.filter(col("vec_id") < 32), vecs, "vec_id", "embedding",
          k = 5, nprobe = 4, shortlist = 64)
        .join(dead.withColumnRenamed("id", "neighbor_id")
          .withColumn("__dead", lit(1)), Seq("neighbor_id"), "left")
        .groupBy("query_id")
        .agg(
          (max(when(col("neighbor_id") === col("query_id") + CopyOffset, 1)
            .otherwise(0)) === 1).as("copy_returned"),
          (max(coalesce(col("__dead"), lit(0))) === 1).as("deleted_returned"))
        .withColumn("n_store", lit(stored))
        .orderBy("query_id")
    },

    // S10: the s9 persisted index with tombstoned DELETES honored in-search.
    // Structural contract: every base query's planted exact copy heads the
    // ranking at cosine 1 (the s6/s9 argument) UNLESS tombstoned — odd base
    // ids' copies are deleted, so odd queries must NOT get their copy back,
    // and no deleted id may surface for anyone. copy_returned ≡ evenness
    // and deleted_returned ≡ false, both derived from the ACTUAL top-5
    // search output; a tombstone leak or an over-delete breaks the hash.
    Gate("s10_ann_deletes",
      // s10: evenness ≡ live-copy-at-top, tombstones never surface
      s10OracleSql) { (s, dir) =>
      val n = Tables(s, dir).embeddings.count()
      val vecs = plantedVecsExact(s, dir)
      val root = graft.Scratch.fresh("s10_index")
      val built = IvfPq.build(Tables(s, dir).embeddings.repartition(parallelism(s)),
        "embedding", cells = 8, m = 8, k = 64, knownN = n)
      AnnIndexStore.save(s, root, built,
        IvfPq.encode(vecs, "vec_id", "embedding", built))
      val dead = vecs.filter(col("vec_id") < CopyOffset && col("vec_id") % 2 === 1)
        .select((col("vec_id") + CopyOffset).as("id"))
      AnnIndexStore.delete(s, root, dead)
      AnnIndexStore.searchWithDeletes(s, root,
          vecs.filter(col("vec_id") < 32), vecs, "vec_id", "embedding",
          k = 5, nprobe = 3, shortlist = 64)
        .join(dead.withColumnRenamed("id", "neighbor_id")
          .withColumn("__dead", lit(1)), Seq("neighbor_id"), "left")
        .groupBy("query_id")
        .agg(
          (max(when(col("neighbor_id") === col("query_id") + CopyOffset, 1)
            .otherwise(0)) === 1).as("copy_returned"),
          (max(coalesce(col("__dead"), lit(0))) === 1).as("deleted_returned"))
        .orderBy("query_id")
    },

    // X20: streaming deletes against the persisted store — takedown
    // requests land as 3 id shards, each Append-committed to the
    // tombstone table with a replay-skip tag; searchLive then reproduces
    // the s10 contract (odd copies gone, evenness ≡ copy-at-top, no
    // deleted id ever) with the deletes having arrived THROUGH the
    // stream. Replay no-ops and batch-split independence are
    // StreamingAnnIngestSpec's.
    Gate("x20_stream_ann_deletes",
      // x20: the s10 contract with the deletes arriving through the stream
      s10OracleSql) { (s, dir) =>
      val n = Tables(s, dir).embeddings.count()
      val vecs = plantedVecsExact(s, dir)
      val root = graft.Scratch.fresh("x20_index")
      val ckpt = graft.Scratch.fresh("x20_ckpt")
      val built = IvfPq.build(Tables(s, dir).embeddings.repartition(parallelism(s)),
        "embedding", cells = 8, m = 8, k = 64, knownN = n)
      AnnIndexStore.save(s, root, built,
        IvfPq.encode(vecs, "vec_id", "embedding", built))
      val dead = vecs.filter(col("vec_id") < CopyOffset && col("vec_id") % 2 === 1)
        .select((col("vec_id") + CopyOffset).as("id"))
      val in = graft.Scratch.shards("x20_in",
        (0 until 3).map(i => dead.filter(col("id") % 3 === i)))
      graft.streaming.StreamingAnnIngest.startDeletes(s, in, dead.schema,
        "id", root, ckpt).awaitTermination()
      graft.streaming.StreamingAnnIngest.searchLive(s, root,
          vecs.filter(col("vec_id") < 32), vecs, "vec_id", "embedding",
          k = 5, nprobe = 3, shortlist = 64)
        .join(dead.withColumnRenamed("id", "neighbor_id")
          .withColumn("__dead", lit(1)), Seq("neighbor_id"), "left")
        .groupBy("query_id")
        .agg(
          (max(when(col("neighbor_id") === col("query_id") + CopyOffset, 1)
            .otherwise(0)) === 1).as("copy_returned"),
          (max(coalesce(col("__dead"), lit(0))) === 1).as("deleted_returned"))
        .orderBy("query_id")
    },

    Gate("x18_stream_ann_ingest",
      // x18: the s9 structural contract reached THROUGH the stream — every
      // query's streamed copy at top-1/cosine 1 (a lost shard breaks it),
      // plus the maintained-state row count (base + streamed copies = 2n; a
      // double-applied shard breaks it).
      """SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id, 1.0 AS cosine,
        |  (SELECT CAST(2 * count(*) AS BIGINT) FROM embeddings) AS n_state
        |FROM embeddings WHERE vec_id < 32 ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val n = Tables(s, dir).embeddings.count()
      val base = Tables(s, dir).embeddings.repartition(parallelism(s))
      val vecs = plantedVecsExact(s, dir)
      val root = graft.Scratch.fresh("x18_idx")
      val ckpt = graft.Scratch.fresh("x18_ckpt")
      val built = IvfPq.build(base, "embedding", cells = 8, m = 8, k = 64, knownN = n)
      AnnIndexStore.save(s, root, built,
        IvfPq.encode(base, "vec_id", "embedding", built))
      val copies = vecs.filter(col("vec_id") >= CopyOffset)
      val in = graft.Scratch.shards("x18_in",
        (0 until 3).map(i => copies.filter(col("vec_id") % 3 === i)))
      graft.streaming.StreamingAnnIngest.start(s, in, copies.schema,
        "vec_id", "embedding", root, ckpt).awaitTermination()
      val stateN = SnapshotTable.read(s, s"$root/encoded")
        .agg(count(lit(1)).as("n_state"))
      graft.streaming.StreamingAnnIngest.search(s, root,
          vecs.filter(col("vec_id") < 32), vecs, "vec_id", "embedding",
          k = 1, nprobe = 3, shortlist = 64)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
        .crossJoin(broadcast(stateN))
        .orderBy("query_id")
    },

    // S6 recall vs the exact S1 scan on the natural corpus, the s3_recall
    // construction. With an exact re-rank the only recall losses are (a)
    // cell probing — identical to S3 at the same cells/nprobe, measured
    // 0.634-0.666 — and (b) a true neighbor pushed below `shortlist` by ADC
    // noise, which shrinks with code bits (AnnRecallProbe: at sf0.1 m=4/k=16
    // loses 0.22 of recall to (b), m=8/k=64 loses 0.04). At m=8/k=64/
    // shortlist=128 measured recall is 0.628-0.663 across all three SFs, so
    // the gate reuses S3's >= 0.55 bound (above the 0.375 of probing 3
    // random cells of 8, margin >= 0.078 under every measurement).
    Gate("s6_recall", recallOracleSql) { (s, dir) =>
      val base = Tables(s, dir).embeddings
      val vecs = base.repartition(parallelism(s))
      val n = base.count()
      val queries = vecs.filter(col("vec_id") < 32)
      val index = IvfPq.build(vecs, "embedding", cells = 8, m = 8, k = 64, knownN = n)
      val enc = IvfPq.encode(vecs, "vec_id", "embedding", index)
      val exact = Similarity.bruteForceTopK(queries, vecs, "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val approx = IvfPq.search(queries, enc, vecs, "vec_id", "embedding", index,
          k = 10, nprobe = 3, shortlist = 128)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(
          countDistinct(col("query_id")).as("n_queries"),
          (sum(coalesce(col("__hit"), lit(0))).cast("double") / count(lit(1)) >= 0.55)
            .as("recall_ok"))
    },

    Gate("s4_quantize_int8",
      // S4: every op here (float→double cast, /, *, floor, abs, max) is
      // correctly rounded and order-independent (max) or applied in the same
      // order — codes, scales and errors are bit-identical cross-engine.
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        |  FROM embeddings
        |), z AS (
        |  SELECT vec_id, embedding, scale,
        |    CASE WHEN scale = 0.0
        |      THEN list_transform(embedding, x -> CAST(0 AS INTEGER))
        |      ELSE list_transform(embedding,
        |        x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INTEGER))
        |    END AS q
        |  FROM s
        |)
        |SELECT vec_id, scale,
        |  md5(array_to_string(q, ',')) AS q_hash,
        |  list_max(list_transform(range(1, len(q)+1),
        |    i -> abs(CAST(embedding[i] AS DOUBLE) - CAST(q[i] AS DOUBLE) * scale))) AS max_err
        |FROM z""".stripMargin) { (s, dir) =>
      // int8 scalar quantization of the embedding store: codes, scale and
      // max reconstruction error are all order-independent element-wise
      // double math, so DuckDB re-derives every value bit-for-bit — no
      // rounding slack anywhere in this gate.
      val vecs = Tables(s, dir).embeddings.repartition(parallelism(s))
        .withColumn("__scale", VectorFunctions.int8Scale(col("embedding")))
        .withColumn("__q", VectorFunctions.quantizeInt8(col("embedding"), col("__scale")))
      vecs.select(
          col("vec_id"),
          col("__scale").as("scale"),
          md5(array_join(col("__q"), ",")).as("q_hash"),
          array_max(zip_with(
            transform(col("embedding"), x => x.cast("double")),
            VectorFunctions.dequantizeInt8(col("__q"), col("__scale")),
            (v, r) => abs(v - r))).as("max_err"))
        .orderBy("vec_id")
    },

    Gate("s5_pq_codes",
      // S5: exact copies code identically (deterministic argmin), so the
      // code-match join over the planted corpus returns exactly the planted
      // pairs — recall AND precision structural, like d5.
      """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b FROM embeddings""".stripMargin) { (s, dir) =>
      // product quantization, gated structurally like s2/s3: identical
      // vectors get identical codes (argmin tiebreaks on the first index),
      // so over the exact-copy corpus every planted pair must code-match —
      // the join below must return EXACTLY the planted pairs. Codebooks
      // train on the base corpus (16 centroids × 4 subspaces of the 64-dim
      // embedding); reconstruction quality is spec-gated (the codebook
      // floats themselves are not cross-engine derivable).
      val base = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val cb = ProductQuantizer.train(base, "embedding", m = 4, k = 16, iters = 3)
      val codes = ProductQuantizer.encode(plantedVecsExact(s, dir), "embedding", cb)
        .select(col("vec_id"), col("pq_codes"))
      codes.as("a").join(codes.as("b"),
          col("b.vec_id") === col("a.vec_id") + CopyOffset &&
            col("a.pq_codes") === col("b.pq_codes"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
        .orderBy("id_a")
    },

    Gate("t1_langid", t1OracleSql) { (s, dir) =>
      TextAnalysis.withDetectedLang(Tables(s, dir).documents, "text")
        .select(col("doc_id"), col("lang").as("labeled_lang"), col("detected_lang"))
    },

    Gate("t2_quality", t2OracleSql) { (s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        length(col("text")).as("len_chars"),
        TextAnalysis.wsTokens(col("text")).as("n_tokens"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.repetitionRatio(col("text")).as("repetition_ratio"),
        TextAnalysis.meanTokenLen(col("text")).as("mean_token_len"),
        TextAnalysis.isQuality(col("text")).as("is_quality"))
    },

    Gate("t3_tokens",
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        TextAnalysis.wsTokens(col("text")).as("ws_tokens"),
        TextAnalysis.bpeTokens(col("text")).as("bpe_tokens"))
    },

    // T17: deterministic global shuffle — keys are pure md5(seed:id), so
    // the oracle re-derives them exactly; the total-order materialization
    // (range partition + local sort, no single-partition funnel) is
    // spec-asserted in SamplingSpec.
    Gate("t17_global_shuffle",
      """SELECT doc_id, md5('7:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |FROM documents""".stripMargin) { (s, dir) =>
      Sampling.globalShuffle(Tables(s, dir).documents.select("doc_id"), "doc_id", seed = 7L)
        .select("doc_id", "shuffle_key")
    },

    // T16: true merge-table BPE (T3's regex count is the pre-tokenizer;
    // this applies the checked-in 8192-merge table per pre-token). The
    // DuckDB oracle replays the merge loop as a recursive CTE over the
    // DISTINCT corpus words, then joins counts back per doc — same
    // leftmost-lowest-rank-single-merge semantics as the kernel.
    Gate("t16_bpe_tokens",
      s"""WITH RECURSIVE
        |merges(a, b, rank) AS (VALUES ${graft.functions.Bpe.mergeValuesSql()}),
        |words AS (
        |  SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS w
        |  FROM documents
        |),
        |state AS (
        |  SELECT w, list_transform(range(1, len(w)+1), i -> w[i]) AS toks FROM words
        |  UNION ALL
        |  SELECT s.w,
        |    s.toks[1:p.i-1] || [s.toks[p.i] || s.toks[p.i+1]] || s.toks[p.i+2:] AS toks
        |  FROM state s
        |  JOIN LATERAL (
        |    SELECT i FROM unnest(range(1, len(s.toks))) AS t(i)
        |    JOIN merges m ON m.a = s.toks[i] AND m.b = s.toks[i+1]
        |    ORDER BY m.rank, i LIMIT 1
        |  ) p ON true
        |),
        |final AS (
        |  SELECT w, len(toks) AS n FROM state s
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM unnest(range(1, len(s.toks))) AS t(i)
        |    JOIN merges m ON m.a = s.toks[i] AND m.b = s.toks[i+1])
        |)
        |SELECT d.doc_id, CAST(coalesce(sum(f.n), 0) AS BIGINT) AS bpe_true_tokens
        |FROM documents d
        |LEFT JOIN (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS w
        |           FROM documents) dw ON dw.doc_id = d.doc_id
        |LEFT JOIN final f ON f.w = dw.w
        |GROUP BY d.doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        graft.functions.Bpe.tokenCount(col("text")).as("bpe_true_tokens"))
    },

    // T29: BPE tokenizer TRAINING in-engine — the first 8 greedy merges
    // over this SF's documents corpus, hash-compared against a DuckDB
    // re-derivation that UNROLLS the training steps in SQL (per step: a
    // corpus-weighted pair-count argmax with the count-desc-then-
    // lexicographically-greatest tie law, then a list_reduce merge fold
    // over every word). A true cross-engine differential of the training
    // law itself; incremental ≡ naive-rescan, prefix stability and the
    // python-tool anchor (the shipped 8192-merge table's own prefix) are
    // BpeTrainSpec's.
    Gate("t29_bpe_train",
      // T16: the merge loop replayed as a recursive CTE — each step merges
      // the leftmost occurrence of the lowest-rank adjacent pair (ORDER BY
      // rank, i LIMIT 1), terminating at the no-pair fixpoint, exactly the
      // kernel's step. Runs over DISTINCT words, then LEFT-joins per-doc from
      // the documents table so the oracle is total over docs — an empty or
      // all-whitespace doc counts 0, matching the kernel, instead of
      // vanishing from the result.
      // T29: training UNROLLED — per step, the weighted pair-count argmax
      // (count desc, then lexicographically greatest pair) and a
      // list_reduce fold applying the chosen merge left-to-right,
      // non-overlapping, to every word. Generated programmatically (the w23
      // unrolled-pagerank pattern).
      t29OracleSql) { (s, dir) =>
      import s.implicits._
      val merges = BpeTrain.train(Tables(s, dir).documents, Seq("text"), 8)
      require(merges.size == 8, s"corpus must support 8 merges, got ${merges.size}")
      merges.zipWithIndex.map { case ((a, b), i) => ((i + 1).toLong, a, b) }
        .toDF("step", "lhs", "rhs").orderBy("step")
    },

    // T30: the trained table's PUBLISHABLE vocabulary — (token_id, token,
    // kind) under the GPT-2 construction: base codepoints in lexicographic
    // order, then merges in merge order, ids = dense ranks. The oracle
    // re-derives base tokens AND ids from the same corpus CTEs and the
    // unrolled merges — a drift in training, char splitting or ordering
    // moves an id and breaks the hash.
    Gate("t30_bpe_vocab",
      // T30: base codepoints + merge tokens with dense-rank ids, off the
      // same unrolled-training CTEs.
      t30OracleSql) { (s, dir) =>
      import s.implicits._
      val counts = BpeTrain.wordCounts(Tables(s, dir).documents, Seq("text"))
      val merges = BpeTrain.trainFromCounts(counts, 8)
      require(merges.size == 8, s"corpus must support 8 merges, got ${merges.size}")
      BpeTrain.vocabulary(counts, merges)
        .toDF("token_id", "token", "kind").orderBy("token_id")
    },

    // P19: retrain-and-apply — the T29 trainer's fresh table handed
    // straight to T16's codegen'd tokenizer kernel: per-doc token counts
    // under the JUST-TRAINED merges, the tokenizer-refresh loop a curation
    // pipeline runs after its corpus mix shifts. The oracle re-derives the
    // WHOLE chain in one SQL statement (unrolled training feeding the
    // recursive tokenizer), so a drift in either half breaks the hash.
    Gate("p19_bpe_retrain",
      // P19: the whole retrain-and-apply chain in one statement — training
      // CTEs (bpeTrainCtes) feeding the t16 recursive tokenizer.
      p19OracleSql) { (s, dir) =>
      val merges = BpeTrain.train(Tables(s, dir).documents, Seq("text"), 8)
      require(merges.size == 8, s"corpus must support 8 merges, got ${merges.size}")
      Tables(s, dir).documents.select(col("doc_id"),
        graft.functions.Bpe.tokenCount(col("text"), merges).as("fresh_tokens"))
    },

    Gate("t5_tfidf",
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1)
        |SELECT doc_id, term, tf, df FROM tf JOIN df USING(term) WHERE doc_id < 20""".stripMargin) { (s, dir) =>
      // integer columns only (tf/df exact in any engine); the double tfidf
      // score itself is spec-gated, not hash-gated, to dodge libm ulps
      TextAnalysis.tfidf(Tables(s, dir).documents, "text", "doc_id")
        .filter(col("doc_id") < 20)
        .select("doc_id", "term", "tf", "df")
    },

    Gate("t4_fingerprint",
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_extract_all(text, '[\s\S]'), c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))
    },

    Gate("t26_normalize",
      """WITH dirty AS (
        |  SELECT doc_id,
        |    '  ' || chr(9) || text
        |    || CASE WHEN doc_id % 2 = 0
        |         THEN chr(13)||chr(10)||'Cafe'||chr(769)||' au lait' ELSE '' END
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN chr(8203)||'promo'||chr(65279) ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0
        |         THEN chr(10)||chr(10)||chr(10)||chr(10)||'end' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN 'bel'||chr(7)||'l '||chr(11)||'vt' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' unit '||chr(8491) ELSE '' END
        |      AS text
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |       regexp_replace(regexp_replace(
        |    nfc_normalize(text),
        |    '\r\n|\r', chr(10), 'g'),
        |    '[\x{200B}-\x{200D}\x{FEFF}\x{00AD}]', '', 'g'),
        |    '[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}\x{007F}]', '', 'g'),
        |    '[ \t]+', ' ', 'g'),
        |    ' ?\n ?', chr(10), 'g'),
        |    '\n{3,}', chr(10)||chr(10), 'g')) AS norm_text
        |FROM dirty
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // The synthetic corpus is clean ASCII, so plant the mess T26 exists
      // for, keyed on doc_id so every SF exercises every case: leading
      // whitespace junk on all docs; an NFD suffix (e + combining acute,
      // composes to U+00E9) on evens; ZWSP+BOM invisibles on mod-3; a
      // 4-blank-line run on mod-4; BEL and vertical-tab control chars on
      // mod-5; the Angstrom SIGN U+212B (NFC maps it to Å U+00C5 — real
      // composition, not just combining marks) on mod-7. The oracle
      // replants the identical string with chr() and replays the
      // documented normalization contract step for step — generic
      // derivation, nothing planted in the expected output.
      val docs = Tables(s, dir).documents
      val dirty = docs.select(col("doc_id"), concat(
        lit("  \t"),
        col("text"),
        when(col("doc_id") % 2 === 0, lit("\r\nCafe\u0301 au lait"))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit("\u200Bpromo\uFEFF"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("\n\n\n\nend")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("bel\u0007l \u000Bvt"))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" unit \u212B")).otherwise(lit(""))
      ).as("text"))
      dirty.select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("norm_text"))
        .orderBy("doc_id")
    },

    Gate("t27_normalize_multilingual",
      // T26: replant the identical dirty string with chr() codepoints, then
      // replay the documented normalization contract: utf8proc NFC (DuckDB
      // nfc_normalize ≡ the JDK normalizer — both implement the Unicode
      // canonical-composition tables), then the same RE2∩Java regex chain the
      // Spark side runs, step for step.
      // T27: the identical dirt replanted with chr() codepoints, the same
      // presence-law flags re-derived with the IDENTICAL range regexes
      // (explicit \x{...} ranges — RE2 and Java agree on those where they
      // disagree on script-class spelling), then the profile-switched chain
      // replayed step for step. The regexes and the translate mapping are
      // substituted from the SAME Scala constants the operator compiles in,
      // so the two sides cannot drift.
      t27OracleSql) { (s, dir) =>
      // T27: the per-script profile law over planted multilingual dirt.
      // mod-3 docs get Persian with an ORTHOGRAPHIC ZWNJ (می\u200Cروم) plus a
      // stray ZWSP — the ZWNJ must survive, the ZWSP must not; mod-4 docs
      // get a Devanagari conjunct ZWJ — kept; mod-5 docs get fullwidth
      // ASCII + ideographic space + Han — folded to halfwidth and
      // collapsed; mod-7 docs get a ZWNJ in PURE LATIN context — stripped
      // iff the document carries no joining script, so doc ids divisible
      // by 21 keep it (their Persian suffix flips the profile) while
      // mod-7-only docs lose it: the presence law, hash-gated both ways.
      // mod-2 keeps T26's NFD+CRLF dirt to pin chain composition.
      t27Dirty(s, dir).select(col("doc_id"),
          TextAnalysis.textProfile(col("text")).as("profile"),
          TextAnalysis.normalizeTextMultilingual(col("text")).as("norm_text"))
        .orderBy("doc_id")
    },

    Gate("t28_sql_ml_surface",
      // T28: same oracle verbatim — the SQL surface resolves to the
      // identical catalyst trees, so the answers must be byte-identical
      t27OracleSql) { (s, dir) =>
      // T28: the T27 surface from PLAIN SQL — text_profile and
      // normalize_text_ml resolve to the identical catalyst trees the
      // Column API builds (one formulation, two entrances), so this gate
      // shares t27's oracle verbatim. The dirty plant is the same
      // construction registered as a temp view.
      graft.functions.GraftFunctions.register(s)
      t27Dirty(s, dir).createOrReplaceTempView("t28_dirty")
      s.sql("""SELECT doc_id, text_profile(text) AS profile,
              |       normalize_text_ml(text) AS norm_text
              |FROM t28_dirty ORDER BY doc_id""".stripMargin)
    },

    Gate("t6_hash_split", t6OracleSql) { (s, dir) =>
      Sampling.assignSplits(Tables(s, dir).documents, "doc_id", SplitSpec)
        .select("doc_id", "split")
    },

    Gate("p18_temporal_curation",
      // P6: W20's recursive-CTE closure fragment + T6's shared md5
      // fragments, chained — topic spread, root-2 selection, depth-3
      // ancestor grouping and the split case all re-derived exactly.
      s"""WITH RECURSIVE e0 AS (
         |  SELECT id AS src, id // 2 AS dst,
         |    CASE WHEN id % 3 = 0
         |      THEN make_timestamp(CAST(1900 + id % 50 AS BIGINT), 1, 1, 0, 0, 0.0) END AS vfrom,
         |    CASE WHEN id % 4 = 0
         |      THEN make_timestamp(CAST(1940 + id % 40 AS BIGINT), 1, 1, 0, 0, 0.0) END AS vuntil
         |  FROM range(2, 4096) t(id)
         |), e AS (
         |  SELECT src, dst FROM e0
         |  WHERE (vfrom IS NULL OR vfrom <= TIMESTAMP '1950-06-01 00:00:00')
         |    AND (vuntil IS NULL OR vuntil > TIMESTAMP '1950-06-01 00:00:00')
         |), cl AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT cl.src, e.dst FROM cl JOIN e ON cl.dst = e.src
         |), topics AS (
         |  SELECT doc_id, 2048 + (${md5UnitSql("doc_id")} % 2048) AS topic
         |  FROM documents
         |), sel AS (
         |  SELECT doc_id, topic FROM topics
         |  WHERE topic IN (SELECT src FROM cl WHERE dst = 2)
         |), comp AS (
         |  SELECT doc_id, topic,
         |    coalesce((SELECT min(m.dst) FROM (
         |      SELECT src, dst FROM cl WHERE dst BETWEEN 8 AND 15
         |      UNION SELECT id AS src, id AS dst FROM range(8, 16) t(id)) m
         |      WHERE m.src = sel.topic), topic) AS component
         |  FROM sel
         |)
         |SELECT doc_id, topic, component, $splitCaseSql AS split
         |FROM (SELECT doc_id, topic, component, ${md5UnitSql("component")} AS u
         |      FROM comp)""".stripMargin) { (s, dir) =>
      // P18 = P6 × W35: ontology-aware curation where the safety domain
      // is TIME-PINNED — splits computed over the ontology as it stood at
      // the training-cut date, so a later ontology edit cannot silently
      // re-wire which docs share a split. The w39 span arithmetic kills
      // part of the class tree at 1950; selection, components and splits
      // all follow the ALIVE closure, and DuckDB re-derives the entire
      // pipeline (spans, alive cut, recursive closure, md5 splits) from
      // the same arithmetic.
      import graft.wikidata.TemporalClaims
      val docs = Tables(s, dir).documents
      val topics = docs.select(col("doc_id"),
        (lit(2048L) + pmod(Sampling.hashUnit(col("doc_id")), lit(2048L))).as("topic"))
      val ids = s.range(2, 4096)
      val cid = concat(lit("c"), col("id"))
      val stmts = ids.select(col("id"),
        lit(graft.wikidata.IdCodec.pId(279)).as("property_id"),
        cid.as("claim_id"), expr("id div 2").as("entity_id"))
      val quals = ids.filter(col("id") % 3 === 0).select(
          cid.as("claim_id"), lit(TemporalClaims.StartPid).as("qual_property_id"),
          lit("time").as("kind"),
          expr("make_timestamp(1900 + id % 50, 1, 1, 0, 0, 0)").as("time"))
        .unionAll(ids.filter(col("id") % 4 === 0).select(
          cid.as("claim_id"), lit(TemporalClaims.EndPid).as("qual_property_id"),
          lit("time").as("kind"),
          expr("make_timestamp(1940 + id % 40, 1, 1, 0, 0, 0)").as("time")))
      val alive = TemporalClaims.validAt(stmts, quals,
          lit("1950-06-01 00:00:00").cast("timestamp"))
        .select(col("id").as("src"), col("entity_id").as("dst"))
      val groups = s.range(8, 16).select(col("id").as("node"))
      Sampling.ontologySafeSplits(topics, "topic", alive, root = 2L, groups, SplitSpec)
        .select("doc_id", "topic", "component", "split")
        .orderBy("doc_id")
    },

    Gate("p6_ontology_curation",
      s"""WITH RECURSIVE e AS (
         |  SELECT id AS src, id // 2 AS dst FROM range(2, 4096) t(id)
         |), cl AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT cl.src, e.dst FROM cl JOIN e ON cl.dst = e.src
         |), topics AS (
         |  SELECT doc_id, 2048 + (${md5UnitSql("doc_id")} % 2048) AS topic
         |  FROM documents
         |), sel AS (
         |  SELECT doc_id, topic FROM topics
         |  WHERE topic IN (SELECT src FROM cl WHERE dst = 2)
         |), comp AS (
         |  SELECT doc_id, topic,
         |    coalesce((SELECT min(m.dst) FROM (
         |      SELECT src, dst FROM cl WHERE dst BETWEEN 8 AND 15
         |      UNION SELECT id AS src, id AS dst FROM range(8, 16) t(id)) m
         |      WHERE m.src = sel.topic), topic) AS component
         |  FROM sel
         |)
         |SELECT doc_id, topic, component, $splitCaseSql AS split
         |FROM (SELECT doc_id, topic, component, ${md5UnitSql("component")} AS u
         |      FROM comp)""".stripMargin) { (s, dir) =>
      // ontology-aware curation: W20's closure over the deterministic
      // binary-tree ontology (child i -> parent i div 2, leaves
      // 2048..4095) selects docs whose topic sits under root node 2
      // (half the leaf space — topics are hash-spread, so the selection
      // bites at every SF), then splits by the depth-3 ancestor tier
      // (nodes 8..15; under root 2 that's 8..11). Topic, ancestor and
      // split are all pure functions of doc_id, so DuckDB re-derives the
      // whole pipeline via a recursive CTE + the shared md5 fragments.
      val docs = Tables(s, dir).documents
      val topics = docs.select(col("doc_id"),
        (lit(2048L) + pmod(Sampling.hashUnit(col("doc_id")), lit(2048L))).as("topic"))
      val edges = s.range(2, 4096).select(col("id").as("src"), expr("id div 2").as("dst"))
      val groups = s.range(8, 16).select(col("id").as("node"))
      Sampling.ontologySafeSplits(topics, "topic", edges, root = 2L, groups, SplitSpec)
        .select("doc_id", "topic", "component", "split")
        .orderBy("doc_id")
    },

    Gate("t7_stratified_sample",
      // T7: membership is a pure function of (lang, md5(doc_id)) — both
      // engines compute the same lowercase-hex md5 over the same decimal
      // rendering of doc_id, so the quota sample is re-derivable exactly.
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) WHERE rk <= 5""".stripMargin) { (s, dir) =>
      // deterministic per-language quota (the "balance by language/source"
      // op): 5 docs per lang chosen by md5(id) order — pure function of the
      // data, so DuckDB's row_number re-derivation is an exact oracle. Runs
      // through the bounded-heap TopK plan node (P1), giving that custom
      // operator a second driver-visible consumer on a different schema.
      Sampling.stratifiedSample(
          Tables(s, dir).documents.select("doc_id", "lang"), "lang", "doc_id", n = 5)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    },

    Gate("t11_temperature_mix",
      // T11: quotas are integer arithmetic end-to-end — floor(sqrt(n)) is
      // exact for any realistic stratum count, Σw and M·w div Σw are BIGINT —
      // and membership is md5(id) order per stratum, so the rebalanced corpus
      // is re-derivable row-for-row.
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source
        |), w AS (
        |  SELECT source, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w FROM c
        |), q AS (
        |  SELECT source, (200 * w) // (SELECT CAST(sum(w) AS BIGINT) FROM w) AS quota FROM w
        |), r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents
        |)
        |SELECT r.doc_id, r.source FROM r JOIN q USING (source)
        |WHERE r.rk <= q.quota""".stripMargin) { (s, dir) =>
      // α=0.5 temperature rebalancing across sources: quotas from integer
      // square-root weights (exact on any engine), membership by md5 order
      // — the data-mixing step of a multi-source training corpus.
      Sampling.temperatureResample(
          Tables(s, dir).documents.select("doc_id", "source"), "source", "doc_id",
          targetTotal = 200)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    Gate("t12_pack_sequences",
      // T12: the packing is md5 order + prefix-sum + integer division — all
      // exactly re-derivable (the shard is t6's hex-fold md5 unit mod 4; sums
      // wrapped back to BIGINT because DuckDB sum(BIGINT) widens to HUGEINT).
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks,
        |    md5(CAST(doc_id AS VARCHAR)) AS u,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 9),
        |        i -> CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT))),
        |      (a, b) -> a * 16 + b) % 4 AS shard
        |  FROM documents
        |), o AS (
        |  SELECT doc_id, shard,
        |    CAST(coalesce(sum(toks) OVER (PARTITION BY shard ORDER BY u, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM t
        |)
        |SELECT doc_id, shard, off // 256 AS seq_id, off % 256 AS seq_off FROM o""".stripMargin) { (s, dir) =>
      // concat-and-chunk sequence packing: 256-token sequences over 4 hash
      // shards. Every assignment is md5-order + integer cumulative-sum
      // arithmetic — DuckDB re-derives (shard, seq_id, seq_off) row-for-row.
      val docs = Tables(s, dir).documents
      TextAnalysis.packSequences(
          docs.select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("toks")),
          "doc_id", "toks", seqLen = 256, shards = 4)
        .select("doc_id", "shard", "seq_id", "seq_off")
        .orderBy("doc_id")
    },

    Gate("t13_boilerplate",
      // T13: the full frequent-line scrub re-derived generically — plant the
      // same chrome, split on newlines, count each trimmed line once per doc,
      // threshold at ceil(0.5·N) (identical double ceil in both engines),
      // anti-filter, reassemble in line order. Docs reduced to nothing come
      // back as '' via the left join.
      """WITH p AS (
        |  SELECT doc_id,
        |    'ACCEPT COOKIES TO CONTINUE' || chr(10) || text ||
        |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'rare per-page notice' ELSE '' END ||
        |    chr(10) || 'Copyright Example Site' AS text
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM p
        |), ex AS (
        |  SELECT doc_id, i, ls[i+1] AS l, trim(ls[i+1]) AS tl
        |  FROM t, unnest(range(len(ls))) AS u(i)
        |), freq AS (
        |  SELECT tl FROM (
        |    SELECT tl, count(DISTINCT doc_id) AS d FROM ex WHERE tl <> '' GROUP BY tl
        |  ) WHERE d >= greatest(2, CAST(ceil(0.5 * (SELECT count(*) FROM documents)) AS BIGINT))
        |), kept AS (
        |  SELECT doc_id, i, l FROM ex WHERE tl NOT IN (SELECT tl FROM freq)
        |)
        |SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN (
        |  SELECT doc_id, string_agg(l, chr(10) ORDER BY i) AS clean_text
        |  FROM kept GROUP BY doc_id
        |) r USING (doc_id)""".stripMargin) { (s, dir) =>
      // the synthetic corpus has no shared chrome, so plant it: every doc
      // gets a cookie banner + copyright footer (corpus-frequent → must be
      // stripped); docs ≡ 0 (mod 7) carry a rare notice (1/7 < 50% → must
      // survive). Both engines then run the SAME generic frequent-line
      // derivation — text content is the hash surface.
      val docs = Tables(s, dir).documents
      val planted = docs.select(col("doc_id"),
        concat(
          lit("ACCEPT COOKIES TO CONTINUE\n"),
          col("text"),
          when(col("doc_id") % 7 === 0, lit("\nrare per-page notice")).otherwise(lit("")),
          lit("\nCopyright Example Site")).as("text"))
      TextAnalysis.stripBoilerplate(planted, "doc_id", "text",
          maxDocFrac = 0.5, knownN = docs.count())
        .orderBy("doc_id")
    },

    Gate("t15_cluster_split",
      // T15: the cluster labels (d6's recursive CTE) keyed into the t6
      // md5-threshold machinery — split is a pure function of the COMPONENT
      // id, so both engines assign every cluster member identically.
      (componentCteSql +
      s""", lab AS (
         |  SELECT c.id, coalesce(p.component, c.id) AS component
         |  FROM corpus c LEFT JOIN comp p ON c.id = p.id
         |), uu AS (
         |  SELECT id, component, ${md5UnitSql("component")} AS u
         |  FROM lab
         |)
         |SELECT id AS doc_id, component, $splitCaseSql AS split
         |FROM uu""".stripMargin)) { (s, dir) =>
      // leakage-safe split assignment over the planted near-dup corpus:
      // d6's cluster labels keyed into t6's md5-threshold machinery —
      // every cluster member lands in the same split by construction
      // (split is a function of the component id alone).
      val corpus = plantedDocs(s, dir)
      val pairs = Dedup.ngramJaccardDedup(corpus, "text", "doc_id", threshold = 0.5)
        .select("id_a", "id_b")
      Sampling.clusterSafeSplits(corpus.select(col("doc_id")), "doc_id", pairs, SplitSpec)
        .orderBy("doc_id")
    },

    Gate("t14_repetition",
      // T14: the repetition profile is integer line/ngram counting — plant the
      // same chrome, split lines (trimmed, non-empty) and word bigrams
      // (lowered, \s+), count duplicates and the per-doc modal bigram. Empty
      // list sums are NULL in DuckDB (coalesce to 0); sum(BIGINT) widens to
      // HUGEINT (cast back); docs with < 2 tokens get their ngram stats from
      // the LEFT JOIN's coalesce, mirroring Spark's explode_outer null row.
      """WITH p AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'repeated banner line' || chr(10) || 'repeated banner line' || chr(10) || 'repeated banner line' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'spam spam spam spam spam spam spam spam spam spam spam spam' ELSE '' END AS text
        |  FROM documents
        |), l AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> len(x) > 0) AS ls,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM p
        |), s AS (
        |  SELECT doc_id,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(len(ls) - len(list_distinct(ls)) AS BIGINT) AS dup_lines,
        |    CAST(coalesce(list_aggregate(list_transform(ls, x -> len(x)), 'sum'), 0)
        |      - coalesce(list_aggregate(list_transform(list_distinct(ls), x -> len(x)), 'sum'), 0) AS BIGINT) AS dup_line_chars,
        |    t
        |  FROM l
        |), e AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM s WHERE len(t) >= 2
        |), c AS (
        |  SELECT doc_id, g, count(*) AS n FROM e GROUP BY doc_id, g
        |), a AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_ngrams, CAST(max(n) AS BIGINT) AS top_ngram_n
        |  FROM c GROUP BY doc_id
        |)
        |SELECT s.doc_id, s.n_lines, s.dup_lines, s.dup_line_chars,
        |  coalesce(a.n_ngrams, 0) AS n_ngrams,
        |  coalesce(a.top_ngram_n, 0) AS top_ngram_n,
        |  ((s.n_lines > 0 AND s.dup_lines * 10 >= s.n_lines * 3)
        |    OR (coalesce(a.n_ngrams, 0) > 0 AND coalesce(a.top_ngram_n, 0) * 5 >= coalesce(a.n_ngrams, 0))) AS is_repetitive
        |FROM s LEFT JOIN a USING (doc_id)""".stripMargin) { (s, dir) =>
      // intra-document repetition profile. The synthetic corpus is
      // low-repetition, so plant both failure modes on top of the natural
      // text: docs ≡0 (mod 5) repeat a banner line 3× (duplicate-line
      // signal); docs ≡0 (mod 7) append a 12-token "spam" run (top-n-gram
      // signal). Both engines derive the profile from the same planted
      // text; every emitted signal is an exact integer.
      val docs = Tables(s, dir).documents
      val planted = docs.select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 5 === 0, lit(
          "\nrepeated banner line\nrepeated banner line\nrepeated banner line"))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("\n" + Seq.fill(12)("spam").mkString(" ")))
          .otherwise(lit(""))).as("text"))
      TextAnalysis.repetitionProfile(planted, "doc_id", "text", ngramN = 2)
        .orderBy("doc_id")
    },

    Gate("p15_dsir_corpus",
      // P15: the same fit chained into selection + split, per-split audit
      p15OracleSql) { (s, dir) =>
      // P15: T25 × T6 — the DSIR-curated corpus cut a mix designer ships:
      // fit the importance model against the English target, keep the
      // target-like docs (the calibrated score_u > 0 rule), split the
      // survivors deterministically, and emit the per-split audit (doc
      // count + total importance mass). Every stage bites on the hash:
      // the fit decides membership, the selection thresholds it, the
      // split partitions it — one lazy plan, re-derived end to end by the
      // chained t25+t6 oracle fragments. The corpus is marker-planted
      // (the t24 idiom) because the natural text is not language-
      // differentiated: without a genuinely distinct target distribution
      // the calibrated cut correctly selects ~nothing (0 rows at
      // sf0.001), which certifies little — with it, every SF selects a
      // real English-like cut and all three split rows carry mass.
      val planted = Tables(s, dir).documents.select(col("doc_id"), col("lang"),
        concat(col("text"), when(col("lang") === "en",
          lit(" targetmarker targetmarker targetmarker")).otherwise(lit("")))
          .as("text"))
      val w = Sampling.importanceWeights(planted, "doc_id",
        "text", col("lang") === "en", buckets = 512)
      Sampling.assignSplits(w.filter(col("selected")), "doc_id", SplitSpec)
        .groupBy("split").agg(
          count(lit(1)).as("n_docs"),
          sum("score_u").as("sum_score_u"))
        .orderBy("split")
    },

    Gate("t25_importance_weights",
      // T25: the DSIR fit replayed — polyhash buckets, add-one-smoothed
      // bucket multinomials, fixed-point log2 millibit ratios, per-token sum
      t25OracleSql) { (s, dir) =>
      // T25: DSIR-shaped importance weighting, target = English documents.
      // The estimator is integer end to end (t4 polyhash buckets, t20
      // fixed-point log2 millibits, add-one smoothing), so DuckDB replays
      // the fit AND the per-doc scores digit-for-digit; `selected` is the
      // rank-free score_u > 0 rule (more target-like than raw-like), total
      // over documents including zero-token ones.
      Sampling.importanceWeights(Tables(s, dir).documents, "doc_id", "text",
          col("lang") === "en", buckets = 512)
        .orderBy("doc_id")
    },

    Gate("t24_token_drift",
      // T24: the same planted refresh, counts full-outer joined, exact
      // integer deltas under the same strict (delta desc, token) order
      """WITH v2 AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 7 = 0
        |                 THEN ' driftmarker driftmarker driftmarker'
        |                 ELSE '' END AS text
        |  FROM documents WHERE doc_id % 5 <> 0
        |), ca AS (
        |  SELECT t AS token, CAST(count(*) AS BIGINT) AS c_a
        |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |        FROM documents)
        |  WHERE length(t) > 0 GROUP BY t
        |), cb AS (
        |  SELECT t AS token, CAST(count(*) AS BIGINT) AS c_b
        |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |        FROM v2)
        |  WHERE length(t) > 0 GROUP BY t
        |)
        |SELECT coalesce(ca.token, cb.token) AS token,
        |       coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b,
        |       abs(coalesce(c_a, 0) - coalesce(c_b, 0)) AS delta
        |FROM ca FULL JOIN cb ON ca.token = cb.token
        |ORDER BY delta DESC, token LIMIT 50""".stripMargin) { (s, dir) =>
      // T24: corpus-refresh drift monitor. v2 is a planted refresh of the
      // corpus: mod-5 docs dropped (their tokens' counts fall), mod-7
      // docs gain a "driftmarker" run (a token that did not exist in v1).
      // The top-50 absolute count changes, exact integers, deterministic
      // (delta desc, token) order — both engines derive the same report
      // from the same planted refresh.
      val v1 = Tables(s, dir).documents
      val v2 = v1.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit(" driftmarker driftmarker driftmarker")).otherwise(lit("")))
          .as("text"))
      TextAnalysis.tokenDrift(v1, v2, "text", k = 50)
    },

    Gate("t23_dataset_card",
      // T23: the same measurements under ROLLUP — DuckDB's NULL subtotal
      // rows match Spark's rollup semantics exactly
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |  CAST(sum(CAST(length(text) >= 100
        |    AND (CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        |              / length(text) END) < 0.1 AS INT)) AS BIGINT) AS n_quality,
        |  CAST(sum(length(text)) // count(*) AS BIGINT) AS mean_chars
        |FROM documents
        |GROUP BY ROLLUP (source, lang)""".stripMargin) { (s, dir) =>
      // T23: the dataset-card profile every corpus release ships — doc and
      // token counts, quality share and mean doc length per (source, lang)
      // with ROLLUP subtotals and a grand total, in ONE pass (T2/T3's
      // measurements × R19's rollup). All integers and exact ratios:
      // token counts are whitespace tokens, quality is T2's boolean,
      // mean length is an integer div — cross-engine hash-exact.
      val docs = Tables(s, dir).documents
      val m = docs.select(col("source"), col("lang"),
        TextAnalysis.wsTokens(col("text")).cast("long").as("toks"),
        TextAnalysis.isQuality(col("text")).cast("long").as("q"),
        length(col("text")).cast("long").as("len"))
      m.rollup("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("toks").as("n_tokens"),
          sum("q").as("n_quality"),
          expr("sum(len) div count(1)").as("mean_chars"))
        .orderBy("source", "lang")
    },

    Gate("t22_gopher_rules", t22OracleSql) { (s, dir) =>
      // T22: Gopher document-filter profile. The synthetic corpus passes
      // most rules trivially, so plant each failure mode: mod-13 docs get
      // NO stopword line (stopword rule), mod-7 docs 30 distinct bullet
      // lines (> 0.9 bullet fraction), mod-5 docs a line repeated 4×
      // (duplicate-line fraction), mod-11 docs a #/ellipsis symbol tail,
      // mod-3 docs one trailing ellipsis line (1/3 > 0.3 when short).
      // Both engines run the same generic rule derivation over the planted
      // text — per-rule measurements AND the conjunctive keep flag hash.
      val docs = Tables(s, dir).documents
      val bullets = (1 to 30).map(i => s"- item $i").mkString("\n")
      val dups = Seq.fill(4)("the same exact line").mkString("\n")
      val planted = docs.select(col("doc_id"), concat(
        when(col("doc_id") % 13 =!= 0,
          lit("the cat is on the mat and it is here\n")).otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 7 === 0, lit("\n" + bullets)).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("\n" + dups)).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" ### ## # more... and even more..."))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit("\ntrailing thought..."))
          .otherwise(lit(""))).as("text"))
      TextAnalysis.gopherRules(planted, "doc_id", "text").orderBy("doc_id")
    },

    Gate("d7_decontaminate",
      // D7 re-derived over STRING shingles (hash-set ≡ string-set counts
      // absent collisions): train docs whose shingle set intersects the eval
      // slice's.
      decontOracleSql) { (s, dir) =>
      // train/eval overlap scrub: train docs sharing ANY k-shingle with the
      // eval slice. Result is a pure semantic set (shingle-hash semi-join ≡
      // string-shingle IN-subquery absent xxhash64 collisions — the d4
      // argument), so DuckDB re-derives it exactly. k=3 on the synthetic
      // corpus so overlap actually occurs; production uses k=8-13.
      val docs = Tables(s, dir).documents
      Dedup.decontaminate(
          docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
          "text", "doc_id", shingleK = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    Gate("d9_decontaminate_near",
      // D9: exact cross-set Jaccard re-derived generically (string shingles ≡
      // hash shingles absent collisions — the d4 argument). Eval ids are all
      // ≥ 2e6 and pair ids are ordered, so cross pairs are (train, eval).
      """WITH corpus AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS id, text || ' tail' AS text
        |  FROM documents WHERE doc_id % 11 = 0
        |), toks AS (
        |  SELECT id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM corpus
        |), sets AS (
        |  SELECT id, list_distinct(
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' ')) END) AS s
        |  FROM toks
        |), ex AS (
        |  SELECT id, unnest(s) AS sh FROM sets
        |), inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.id < b.id
        |  GROUP BY 1, 2
        |), sizes AS (
        |  SELECT id, len(s) AS sz FROM sets
        |), pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
        |    FROM inter JOIN sizes sa ON inter.id_a = sa.id
        |               JOIN sizes sb ON inter.id_b = sb.id
        |  ) WHERE jaccard >= 0.5
        |)
        |SELECT DISTINCT id_a AS doc_id FROM pairs
        |WHERE id_b >= 2000000 AND id_a < 2000000""".stripMargin) { (s, dir) =>
      // near-dup decontamination: the eval set is a tail-perturbed copy of
      // every 11th train doc (one appended token → J = |A|/(|A|+1) ≈ 0.99:
      // a NEAR dup d7's exact-shingle scrub would still catch here, but
      // the operator must flag via exact-Jaccard ≥ 0.5, and the oracle
      // recomputes that generically over all cross pairs — so natural
      // near-dup leakage, if the corpus had any, is checked identically).
      val docs = Tables(s, dir).documents.select("doc_id", "text")
      val evalSet = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" tail")).as("text"))
      Dedup.decontaminateNear(docs, evalSet, "text", "doc_id",
          shingleK = 3, threshold = 0.5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    Gate("t9_top_ngrams",
      """WITH toks AS (
        |  SELECT lang, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents
        |), bi AS (
        |  SELECT lang, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS ngram
        |  FROM toks WHERE len(t) >= 2
        |), c AS (
        |  SELECT lang, ngram, count(*) AS n FROM bi GROUP BY lang, ngram
        |)
        |SELECT lang, ngram, n FROM (
        |  SELECT lang, ngram, n,
        |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, ngram) AS rn
        |  FROM c
        |) WHERE rn <= 5""".stripMargin) { (s, dir) =>
      // corpus n-gram statistics through the bounded-heap TopK node (P1's
      // third driver-visible consumer): top-5 bigrams per language,
      // count-desc with lexicographic tiebreak — fully re-derivable in SQL.
      TextAnalysis.topNgrams(Tables(s, dir).documents, "text", "lang", n = 2, k = 5)
        .orderBy("lang", "ngram")
    },

    Gate("t18_bigram_lm",
      // T18: same bigram explode as t9, self-joined through the corpus
      // frequency table; integer division keeps the score engine-exact
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents
        |), bi AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS ngram
        |  FROM toks WHERE len(t) >= 2
        |), cf AS (
        |  SELECT ngram, CAST(count(*) AS BIGINT) AS cf FROM bi GROUP BY ngram
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST((sum(cf) // count(*)) * 1000
        |    + ((sum(cf) % count(*)) * 1000) // count(*) AS BIGINT)
        |    AS avg_bigram_cf_x1000
        |FROM bi JOIN cf USING (ngram)
        |GROUP BY doc_id""".stripMargin) { (s, dir) =>
      // bigram-LM quality scoring: per-doc mean corpus bigram frequency in
      // integer units — the self-supervised "LM likelihood" curation
      // signal; every score is long arithmetic, so DuckDB re-derives the
      // frequency join and division exactly.
      TextAnalysis.bigramCommonness(Tables(s, dir).documents, "doc_id", "text")
    },

    Gate("t20_bm25_search",
      // T20: integer-unit BM25 replayed end to end — tokenize, postings
      // restricted to the query, df, interpolated-log2 idf (bit length +
      // mantissa interpolation), saturation, length norm, top-50 — all
      // BIGINT floor division, so the hash is exact (the shared fragment
      // wraps count sums back to BIGINT where DuckDB widens to HUGEINT).
      ("WITH " + bm25OracleSql("documents",
        Seq("dup", "merge", "vector", "spark", "quantum"), 50))) { (s, dir) =>
      // ranked keyword search: integer-unit BM25 top-50 for a 5-term query
      // (one term, "quantum", is absent from the corpus — it must
      // contribute nothing); every score is floor-division long arithmetic
      // with the interpolated-log2 idf, so DuckDB replays the formula
      // exactly and the gate hashes (doc, hits, score) verbatim.
      Search.bm25TopK(Tables(s, dir).documents, "text", "doc_id",
        Seq("dup", "merge", "vector", "spark", "quantum"), k = 50)
    },

    Gate("p7_quality_weighted_sample",
      // P7: t18's scoring CTEs + the weight band + t19's md5 draw + the
      // lang join, all replayed in one SQL pipeline
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents
        |), bi AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS ngram
        |  FROM toks WHERE len(t) >= 2
        |), cf AS (
        |  SELECT ngram, CAST(count(*) AS BIGINT) AS cf FROM bi GROUP BY ngram
        |), scored AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST((sum(cf) // count(*)) * 1000
        |      + ((sum(cf) % count(*)) * 1000) // count(*) AS BIGINT) AS score
        |  FROM bi JOIN cf USING (ngram) GROUP BY doc_id
        |), w AS (
        |  SELECT doc_id, n_bigrams, score,
        |    CAST(least(8, 1 + score // 1000) AS BIGINT) AS wt FROM scored
        |), keyed AS (
        |  SELECT doc_id, n_bigrams, score, wt,
        |    list_min(list_transform(range(1, wt + 1),
        |      j -> md5(7 || ':' || doc_id || ':' || j))) AS wk
        |  FROM w)
        |SELECT k.doc_id, d.lang, k.n_bigrams, k.score AS avg_bigram_cf_x1000, k.wt
        |FROM keyed k JOIN documents d USING (doc_id)
        |ORDER BY wk LIMIT 150""".stripMargin) { (s, dir) =>
      // T18 × T19 composed: score every doc by bigram-LM commonness, band
      // the score into an integer weight (1..8, higher = more natural
      // prose), draw a 150-doc corpus without replacement under those
      // weights, and decorate with the doc's language — the "sample by
      // quality" curation step as ONE deterministic pipeline; the oracle
      // replays scoring, banding, md5 draw and join in SQL, so every stage
      // bites on the hash.
      val docs = Tables(s, dir).documents
      val scored = TextAnalysis.bigramCommonness(docs, "doc_id", "text")
        .withColumn("wt", least(lit(8L), lit(1L) + expr("avg_bigram_cf_x1000 div 1000")))
      Sampling.weightedSample(scored, "doc_id", "wt", k = 150)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "n_bigrams", "avg_bigram_cf_x1000", "wt")
    },

    Gate("t19_weighted_sample",
      // T19: the same md5 copy expansion — min over w copy keys, smallest k
      """WITH w AS (
        |  SELECT doc_id, lang, CAST((n_chars % 5) + 1 AS BIGINT) AS wt FROM documents
        |), keyed AS (
        |  SELECT doc_id, lang, wt,
        |    list_min(list_transform(range(1, wt + 1),
        |      j -> md5(7 || ':' || doc_id || ':' || j))) AS wk
        |  FROM w)
        |SELECT doc_id, lang, wt FROM keyed ORDER BY wk LIMIT 200""".stripMargin) { (s, dir) =>
      // weighted sampling without replacement: 200 docs drawn by integer
      // weight (derived deterministically from n_chars) via min-of-copy-
      // hash keys — the Plackett–Luce draw the oracle replays with the
      // same md5 expansion; membership is pure (seed, id, w) function.
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("lang"),
        ((col("n_chars") % 5) + 1).cast("long").as("wt"))
      Sampling.weightedSample(docs, "doc_id", "wt", k = 200)
    },

    Gate("t10_chunk",
      // T10: chunk count is integer ceil arithmetic and chunk text re-joins
      // the token window with single spaces — both fully re-derivable.
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
        |), d AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    CASE WHEN len(toks) <= 64 THEN 1 ELSE ((len(toks) - 64 + 47) // 48) + 1 END AS nc
        |  FROM t
        |)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |  array_to_string(list_slice(toks, i*48+1, i*48+64), ' ') AS chunk_text,
        |  CAST(least(64, n - i*48) AS BIGINT) AS n_tokens
        |FROM d, unnest(range(nc)) AS u(i)""".stripMargin) { (s, dir) =>
      // sliding-window chunking: 64-token windows, 16-token overlap — the
      // training-sequence prep step; chunk boundaries are pure integer
      // arithmetic so DuckDB re-derives every chunk text byte-for-byte.
      TextAnalysis.chunkDocs(Tables(s, dir).documents, "doc_id", "text",
          chunkTokens = 64, overlap = 16)
        .orderBy("doc_id", "chunk_id")
    },

    Gate("d8_decontaminate_bloom",
      // D8 = the same semantic set: bloom false negatives are impossible, so
      // exact ∩ bloom must equal exact — the d7 derivation verbatim.
      decontOracleSql) { (s, dir) =>
      // D7's Bloom-sketch scale path, gated for ZERO false negatives: every
      // exact-overlap doc must survive the bloom pre-filter, so semi-joining
      // the exact result against the bloom result must be the identity —
      // a doc the bloom filter missed drops a row here and flips the hash.
      // (The false-POSITIVE rate is statistical and spec-gated — DedupSpec.)
      val docs = Tables(s, dir).documents
      val train = docs.filter(col("doc_id") >= 20)
      val eval  = docs.filter(col("doc_id") < 20)
      val bloom = Dedup.decontaminateBloom(train, eval, "text", "doc_id", shingleK = 3)
      Dedup.decontaminate(train, eval, "text", "doc_id", shingleK = 3)
        .join(bloom, Seq("id"), "left_semi")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    Gate("t8_pii_redact", t8OracleSql) { (s, dir) =>
      // PII planted deterministically per row (the synthetic corpus has
      // none): one email, one phone, one IPv4 — then the scrub runs and
      // BOTH the redacted text and the per-kind counts are hash-gated.
      // The patterns live in the Java∩RE2 regex subset, so DuckDB applies
      // the literally identical expressions.
      val planted = Tables(s, dir).documents.select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-867-5309 at 10.0.0."),
          (col("doc_id") % 256).cast("string")).as("text"))
      val counts = TextAnalysis.piiCounts(col("text")).map { case (n, c) => c.as(n) }
      planted.select(Seq(col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("redacted")) ++ counts: _*)
    },

    Gate("x5_neardedup_batch",
      // X5 batch equivalent: the planted subset of keep-first-per-simhash
      // drops is structurally the full copy set (see the gate comment).
      "SELECT doc_id + 1000000 AS doc_id FROM documents") { (s, dir) =>
      // batch equivalent of EventStreams.nearDedupStream (X5): keep-first
      // per SimHash signature, "first" pinned by doc_id order. Over the
      // token-reversed planted corpus every copy's signature provably equals
      // its original's (simhash is a bag function) and every original sorts
      // first (id < id + 1e6), so the planted subset of the DROPPED rows is
      // exactly the copy set — even when an original itself collides with an
      // earlier original, its copy still collides transitively. Organic
      // original-vs-original collisions are real near-dups, not
      // SQL-derivable — precision stays spec-gated (StreamingSpec asserts
      // stream ≡ this batch form on a shared input).
      plantedSimhashDrops(plantedDocsPermuted(s, dir))
        .orderBy("doc_id")
    },

    Gate("x11_stream_curation",
      // X11: planted drops gated on BOTH quality predicates — the original's
      // over the raw text, the copy's over the reconstructed token-reversed
      // text (whitespace collapses to single spaces, so the lengths differ).
      """WITH perm AS (
        |  SELECT doc_id, text,
        |    array_to_string(list_reverse(regexp_split_to_array(lower(trim(text)), '\s+')), ' ') AS ptext
        |  FROM documents
        |)
        |SELECT doc_id + 1000000 AS doc_id FROM perm
        |WHERE length(text) >= 100 AND
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) END < 0.1
        |  AND length(ptext) >= 100 AND
        |  CASE WHEN length(ptext) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(ptext, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(ptext) END < 0.1""".stripMargin) { (s, dir) =>
      // batch equivalent of EventStreams.curationStream (X11): T2 quality
      // filter BEFORE X5's keep-first-per-SimHash dedup. Emitted set = the
      // planted DROPS whose original also passed quality — both sides'
      // quality predicates are SQL-derivable (the permuted copy text is a
      // deterministic token reversal), and with the original present and
      // sorting first, every such copy is provably dropped; organic
      // collisions stay outside the emitted subset exactly as in x5.
      val quality = plantedDocsPermuted(s, dir)
        .filter(TextAnalysis.isQuality(col("text")))
      plantedSimhashDrops(quality)
        .join(
          quality.filter(col("doc_id") < CopyOffset)
            .select((col("doc_id") + CopyOffset).as("doc_id")),
          Seq("doc_id"), "left_semi")
        .select("doc_id")
        .orderBy("doc_id")
    },

    Gate("p5_curation_v2", p5OracleSql) { (s, dir) =>
      // curation pipeline v2 — the web-crawl order of operations: strip
      // corpus-frequent chrome (T13), drop repetitive spam (T14),
      // exact-dedup the CLEANED text (D1 — dedup after scrubbing, so pages
      // differing only in chrome collapse), deterministic split (T6). One
      // lazy plan; every stage's oracle fragment chains in DuckDB, so the
      // whole pipeline is value-exact end to end, not just each stage.
      // Every stage BITES: docs ≡0 mod 5 are pure spam (repetition filter
      // drops them), docs ≡0 mod 13 (and not spam) share one body (dedup
      // collapses them to the min id), and every doc carries the chrome
      // (scrub strips it).
      Sampling.assignSplits(curatedDocs(s, dir), "doc_id", SplitSpec)
        .select("doc_id", "split")
        .orderBy("doc_id")
    },

    Gate("p8_curated_search",
      // P8: the curation chain's survivors (cleaned text) feed the same
      // BM25 fragment — search over the CURATED corpus, every upstream
      // stage biting on the final hash
      p8OracleSql) { (s, dir) =>
      // P5 × T20: ranked retrieval over the CURATED corpus — the audit
      // loop a pipeline owner actually runs ("what survived curation
      // about X?"). The BM25 stats (df, avgdl, N) are computed on the
      // post-curation corpus, so every upstream stage — scrub, spam
      // filter, dedup — shifts the scores and bites on the hash.
      Search.bm25TopK(curatedDocs(s, dir), "text", "doc_id",
        Seq("dup", "merge", "vector", "spark", "quantum"), k = 40)
    },

    Gate("t21_learned_quality", t21OracleSql) { (s, dir) =>
      // T21: the TRAINED hashed-linear quality classifier (fastText shape;
      // weights fit offline by tools/train_quality_clf.py, frozen in
      // QualityClfWeights) over the same planted-spam construction it was
      // trained on — docs ≡0 (mod 5) carry the spam tail at any SF.
      // Scoring is integer milli-unit arithmetic over polyhash buckets, so
      // DuckDB replays bucketing + the weight-table join digit-for-digit;
      // whether the weights SEPARATE the corpus is ClassifierSpec's
      // assertion (measured 1.0 / 1.0 / 0.999 across the three SFs).
      val docs = Tables(s, dir).documents
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" " + SpamTail)))
          .otherwise(col("text")).as("text"))
      planted.select(col("doc_id"),
          graft.functions.QualityClassifier.scoreMu(Search.toks(col("text")))
            .as("score_mu"))
        .withColumn("is_quality", col("score_mu") > 0)
        .orderBy("doc_id")
    },

    Gate("p10_budget_mixture", p10OracleSql) { (s, dir) =>
      // P10: mixture recipe → sampled corpus. Budget 20000 chars over five
      // sources: src0's 500‰ target (10000) exceeds its ~8k total — the
      // keep-every-row cap bites — while src1..src4 sample at descending
      // deterministic rates; the other 15 sources carry share 0 and drop.
      // Threshold arithmetic and md5 membership replay exactly in DuckDB.
      Sampling.budgetMixture(Tables(s, dir).documents,
          "doc_id", "source", "n_chars",
          Seq("src0" -> 500L, "src1" -> 200L, "src2" -> 150L,
            "src3" -> 100L, "src4" -> 50L),
          budget = 20000L)
        .orderBy("doc_id")
    },

    Gate("p17_web_intake_incr", p17OracleSql) { (s, dir) =>
      // P17: the intake chain against a LIVE corpus. Batch 1 = docs with
      // doc_id % 3 != 2 under unique already-canonical URLs. Batch 2 =
      // the % 3 == 2 docs in four planted roles by doc_id % 5: 0 =
      // refetch (the canonical URL of doc-2 spelled with host case + a
      // utm tracker - dies on the corpus url_hash BEFORE content work),
      // 1 = recrawl (text of doc-1 plus a trailing ZWSP - only T26
      // normalization makes the hashes equal, dies on content_hash),
      // 2 = spam (#### suffix - dies at the quality stage), else novel
      // (lands). The require proves the landing was INCREMENTAL - one
      // tagged Append, not a rebuild; replay no-ops and the streaming
      // form are WebIntakeSpec's.
      val t = graft.Scratch.fresh("p17_corpus")
      val docs = Tables(s, dir).documents.select("doc_id", "text")
      val pre = docs.select(col("doc_id"),
        concat(lit("the cat is on the mat and it is here\n"), col("text"))
          .as("text"))
      val b1 = pre.filter(col("doc_id") % 3 =!= 2)
        .select(col("doc_id"),
          concat(lit("https://example.com/d/"), col("doc_id").cast("string"))
            .as("url"),
          col("text"))
      val prev = pre.select((col("doc_id") + 1).as("doc_id"),
        col("text").as("__prev"))
      val b2 = pre.filter(col("doc_id") % 3 === 2)
        .join(prev, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
              concat(lit("https://EXAMPLE.com/d/"),
                (col("doc_id") - 2).cast("string"), lit("?utm_source=r")))
            .otherwise(concat(lit("https://example.com/d/"),
              col("doc_id").cast("string"))).as("url"),
          when(col("doc_id") % 5 === 1, concat(col("__prev"), lit("\u200B")))
            .when(col("doc_id") % 5 === 2,
              concat(col("text"), lit(" #### #### #### #### #### ####")))
            .otherwise(col("text")).as("text"))
      WebIntake.bootstrap(s, t, b1, "url", "text", "doc_id")
      WebIntake.intake(s, t, b2, "url", "text", "doc_id",
        tag = Some("crawl-2"))
      require(SnapshotTable.versions(t) == Seq(1L, 2L),
        "intake must land as one incremental Append")
      SnapshotTable.read(s, t)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    Gate("p16_web_intake", p16OracleSql) { (s, dir) =>
      // P16: the RefinedWeb/CCNet-style web-corpus INTAKE chain — the
      // seventh-wave operators composed in production order as one lazy
      // plan: URL-level dedup (D15) before any content work, canonical
      // text normalization (T26), Gopher rule filter (T22) on the
      // NORMALIZED text, exact dedup (D1) last so byte-identical docs
      // the normalizer just unified collapse. Every stage bites: url
      // pairs (div 2) differ by host case + utm tracker — evens win;
      // surviving docs 4k and 4k+2 carry the SAME base text under
      // DIFFERENT mess (ZWSP + CRLF + NFD combining acute vs LF +
      // precomposed é) so ONLY normalization makes them byte-equal and
      // D1 keeps 4k; multiples of 20 carry '####' spam that fails the
      // symbol-ratio rule BEFORE dedup, so their 4k+2 twin — no longer
      // shadowed — survives. Stage order is observable in the output,
      // and the oracle chains the d15/t26/t22/d1 fragments end to end.
      val docs = Tables(s, dir).documents.select("doc_id", "text")
      val base = docs.select(col("doc_id"),
          when(col("doc_id") % 4 === 2, col("doc_id") - 2)
            .otherwise(col("doc_id")).as("__src"))
        .join(docs.select(col("doc_id").as("__src"), col("text").as("__base")),
          Seq("__src"))
      val planted = base.select(col("doc_id"),
        concat(
          lit("the cat is on the mat and it is here\n"),
          col("__base"),
          when(col("doc_id") % 4 === 0, lit("​\r\nCafé au lait"))
            .when(col("doc_id") % 4 === 2, lit("\nCaf\u00E9 au lait"))
            .otherwise(lit("")),
          when(col("doc_id") % 20 === 0, lit(" #### #### #### #### #### ####"))
            .otherwise(lit(""))).as("text"),
        concat(
          when(col("doc_id") % 2 === 0, lit("https://EXAMPLE.com/p/"))
            .otherwise(lit("https://example.com/p/")),
          expr("doc_id div 2").cast("string"),
          when(col("doc_id") % 2 === 0, lit("?utm_source=x")).otherwise(lit(""))
        ).as("url"))
      val urlKept = Urls.dedupByUrl(planted, "doc_id", "url").select("doc_id")
      // Caches-owned: the keep-filter otherwise pushes the whole inlined
      // NFC+regex chain into every interpreted rule reference (see
      // WebIntake.prepareBatch) — measured ~10x on this gate
      val norm = Caches.owned(planted.join(urlKept, Seq("doc_id"))
        .select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("text")))
      val qualityKept = TextAnalysis.gopherRules(norm, "doc_id", "text",
          minWords = 15)
        .filter(col("keep")).select("doc_id")
      val clean = norm.join(qualityKept, Seq("doc_id"))
      Dedup.exactDedup(clean, "text", "doc_id")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    Gate("p11_curation_v3", p11OracleSql) { (s, dir) =>
      // P11: curation pipeline v3 — the third-wave operators composed in
      // production order as ONE lazy plan: learned quality gate (T21, spam
      // dropped BEFORE any dedup — the X11 order), corpus-wide line dedup
      // (D11), exact duplicated-span removal (D12), token-budget mixture
      // (P10) over the CLEANED token mass, deterministic split (T6).
      // Every stage bites at sf0.01: docs ≡0 (mod 5) are spam (classifier
      // drops them), every survivor carries the banner (d11 keeps exactly
      // one), mod-4 docs share the promo line, mod-3 survivors carry the
      // duplicated chunk (d12 cuts all but the first), the mixture caps
      // src0 and samples src1..4 on the post-pipeline token mass, and the
      // split keys on the sampled ids. The DuckDB oracle chains every
      // stage's fragment, so the whole pipeline is value-exact end to end.
      Sampling.assignSplits(curationV3Sampled(s, dir), "doc_id", SplitSpec)
        .select("doc_id", "source", "n_tokens", "split")
        .orderBy("doc_id")
    },

    Gate("p14_corpus_refresh", p14OracleSql) { (s, dir) =>
      // P14: the incremental crawl-ingest loop — bootstrap the corpus from
      // batch 1 (doc_id % 3 ≠ 2), then land a second crawl that mixes the
      // genuinely-new batch-2 docs with PLANTED noise a real crawl always
      // carries: re-crawls of corpus docs (+1e6 ids, %7 of batch 1 — must
      // vanish against the incumbent) and in-batch dup pairs (+2e6 ids,
      // %5 of batch 2 — must lose to their batch sibling). The refresh
      // dedupes the batch, anti-joins the corpus's persisted hash column
      // and Appends atomically; the oracle replays first-arrival-wins over
      // the identical planted union, so a leaked re-crawl, a lost novel
      // doc, or a wrong winner all break the hash. The require proves the
      // landing was INCREMENTAL (one Append, not a rebuild). Replay
      // no-ops, all-dup batches and hash-column pruning are
      // IncrementalCorpusSpec's.
      val t = graft.Scratch.fresh("p14_corpus")
      val (batch1, crawl2) = plantedCrawl(s, dir)
      IncrementalCorpus.bootstrap(s, t, batch1, "text", "doc_id")
      IncrementalCorpus.refresh(s, t, crawl2.reduce(_ unionByName _),
        "text", "doc_id", tag = Some("crawl-2"))
      require(SnapshotTable.versions(t) == Seq(1L, 2L),
        "refresh must land as one incremental Append")
      SnapshotTable.read(s, t)
        .select("doc_id", "lang", "source", "n_chars", "content_hash")
        .orderBy("doc_id")
    },

    Gate("p13_corpus_build", p13OracleSql) { (s, dir) =>
      // P13: the whole corpus build, raw dump to training shards, as ONE
      // derivation + ONE atomic publication: p11's curation/mixture chain
      // (T21 quality gate, D11 line dedup, D12 span removal, P10 budget
      // mixture) feeds P12's shard packing (T12) and per-shard manifest,
      // both published as a single R50 transaction and read back THROUGH
      // the txn pin. The DuckDB oracle chains p11's full CTE stack with
      // the packing/stats fragments — one leak at ANY of the six stages
      // moves the hash. This is the pipeline a 100 TB data org actually
      // schedules nightly, end to end.
      val root = graft.Scratch.fresh("p13_build")
      val q = curationV3Sampled(s, dir).select("doc_id", "source", "n_tokens")
      // Caches-owned: `map` feeds BOTH txn tables (doc_map verbatim and
      // shard_stats' aggregation) — unpinned, the full curation chain
      // (T21 + D11 + D12 windows + P10 mixture) evaluates twice
      val map = Caches.owned(TextAnalysis.packSequences(q, "doc_id", "n_tokens",
          seqLen = 128, shards = 4)
        .select("doc_id", "source", "shard", "seq_id", "seq_off", "n_tokens"))
      val stats = map.groupBy("shard").agg(
        count(lit(1)).as("shard_docs"),
        sum("n_tokens").as("shard_tokens"),
        expr("(sum(n_tokens) + 127) div 128").as("shard_seqs"))
      SnapshotTxn.commit(s, root, Seq("doc_map" -> map, "shard_stats" -> stats))
      SnapshotTxn.readAt(s, root, "doc_map")
        .join(SnapshotTxn.readAt(s, root, "shard_stats"), Seq("shard"))
        .select("doc_id", "source", "shard", "seq_id", "seq_off",
          "shard_docs", "shard_tokens", "shard_seqs")
        .orderBy("doc_id")
    },

    Gate("p12_shard_export",
      // P12: t12's packing fragment over the T2-quality-filtered corpus,
      // joined to the per-shard manifest stats — the whole export replayed
      """WITH q AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 100
        |    AND (CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        |              / length(text) END) < 0.1
        |), t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks,
        |    md5(CAST(doc_id AS VARCHAR)) AS u,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 9),
        |        i -> CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT))),
        |      (a, b) -> a * 16 + b) % 4 AS shard
        |  FROM q
        |), o AS (
        |  SELECT doc_id, shard, toks,
        |    CAST(coalesce(sum(toks) OVER (PARTITION BY shard ORDER BY u, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM t
        |), map AS (
        |  SELECT doc_id, shard, off // 256 AS seq_id, off % 256 AS seq_off, toks FROM o
        |), stats AS (
        |  SELECT shard, CAST(count(*) AS BIGINT) AS shard_docs,
        |         CAST(sum(toks) AS BIGINT) AS shard_tokens,
        |         CAST((sum(toks) + 255) // 256 AS BIGINT) AS shard_seqs
        |  FROM map GROUP BY shard
        |)
        |SELECT m.doc_id, m.shard, m.seq_id, m.seq_off,
        |       s.shard_docs, s.shard_tokens, s.shard_seqs
        |FROM map m JOIN stats s USING (shard)""".stripMargin) { (s, dir) =>
      // P12: the export step a training run actually consumes — quality
      // gate (T2) → token counts → deterministic hash-shard packing into
      // 256-token sequences (T12) → per-shard manifest stats — published
      // as ONE R50 transaction (doc_map + shard_stats pinned by a single
      // txn), then read back THROUGH the txn. The gate output joins the
      // per-doc assignments with their shard's manifest row, so a torn
      // publish, a packing drift, or a stats mismatch all break the hash.
      val root = graft.Scratch.fresh("p12_export")
      val docs = Tables(s, dir).documents
      val q = docs.filter(TextAnalysis.isQuality(col("text")))
        .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("toks"))
      // Caches-owned for the same doc_map/shard_stats double-feed as p13
      val map = Caches.owned(
        TextAnalysis.packSequences(q, "doc_id", "toks", seqLen = 256, shards = 4)
          .select("doc_id", "shard", "seq_id", "seq_off", "toks"))
      val stats = map.groupBy("shard").agg(
        count(lit(1)).as("shard_docs"),
        sum("toks").as("shard_tokens"),
        expr("(sum(toks) + 255) div 256").as("shard_seqs"))
      SnapshotTxn.commit(s, root, Seq("doc_map" -> map, "shard_stats" -> stats))
      SnapshotTxn.readAt(s, root, "doc_map")
        .join(SnapshotTxn.readAt(s, root, "shard_stats"), Seq("shard"))
        .select("doc_id", "shard", "seq_id", "seq_off",
          "shard_docs", "shard_tokens", "shard_seqs")
        .orderBy("doc_id")
    },

    Gate("p9_hybrid_search", p9OracleSql) { (s, dir) =>
      // P9: hybrid retrieval — the RAG-corpus query shape: integer-BM25
      // keyword top-30 fused with exact-cosine vector top-30 (query = the
      // embedding of id 0) by reciprocal-rank fusion (T20 × S1 ×
      // Search.rrfFuse). doc_id and vec_id share an id space in the
      // testdata, standing in for a corpus carrying both a text and an
      // embedding column. Every stage is deterministic — integer BM25,
      // exact sequential-fold cosine, integer floor RRF — so the fused
      // top-20 hashes exactly against DuckDB replaying all three.
      val docs = Tables(s, dir).documents
      val bm = Search.withRank(
        Search.bm25TopK(docs, "text", "doc_id",
          Seq("dup", "merge", "vector", "spark", "quantum"), k = 30),
        Seq(col("score_u").desc, col("doc_id")))
        .select(col("doc_id"), col("rank"))
      val vecs = Tables(s, dir).embeddings
      val ann = Search.withRank(
        Similarity.bruteForceTopK(vecs.filter(col("vec_id") === 0), vecs,
          "vec_id", "embedding", k = 30),
        Seq(col("cosine").desc, col("neighbor_id")))
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Search.rrfFuse(Seq(bm, ann), "doc_id", k = 20)
    },

    Gate("p3_prep_pipeline", p3OracleSql) { (s, dir) =>
      // the composed prep flow a training pipeline actually runs — quality
      // filter (T2) → exact dedup, min-id winner (D1) → deterministic split
      // assignment (T6) — as ONE lazy plan: filter and hash are projections,
      // dedup is the single shuffle, splits are a projection again. Gates
      // that the operators compose (column contracts line up) and that the
      // composition stays oracle-exact end to end.
      val docs = Tables(s, dir).documents
      val quality = docs.filter(TextAnalysis.isQuality(col("text")))
      val deduped = Dedup.exactDedup(quality, "text", "doc_id")
      Sampling.assignSplits(deduped, "doc_id", SplitSpec)
        .select("doc_id", "split")
        .orderBy("doc_id")
    },

    Gate("m1_multimodal",
      // The M1 feature extraction re-derived byte-by-byte: payload = utf-8
      // bytes (hex-decomposed), checksum = fold(c*31 + byte) with signed
      // 64-bit WRAPAROUND emulated in HUGEINT (DuckDB BIGINT overflow throws,
      // JVM long arithmetic wraps), hist_0 = count of bytes ≡ 0 (mod 16).
      // Verifies the mapPartitions plumbing end to end — only the codec body
      // itself is the declared stub.
      """WITH m AS (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
        |    encode(text) AS payload
        |  FROM documents
        |), hx AS (
        |  SELECT media_id, modality, octet_length(payload) AS n_bytes, hex(payload) AS h FROM m
        |), bytes AS (
        |  SELECT media_id, modality, n_bytes,
        |    list_transform(range(0, CAST(n_bytes AS INT)),
        |      i -> (instr('0123456789ABCDEF', substr(h, 2*i+1, 1)) - 1) * 16
        |         + (instr('0123456789ABCDEF', substr(h, 2*i+2, 1)) - 1)) AS bs
        |  FROM hx
        |), feat AS (
        |  SELECT media_id, modality, CAST(n_bytes AS BIGINT) AS n_bytes,
        |    list_reduce(list_prepend(CAST(17 AS HUGEINT), list_transform(bs, b -> CAST(b AS HUGEINT))),
        |      (acc, b) -> (acc * 31 + b) % CAST('18446744073709551616' AS HUGEINT)) AS c_unsigned,
        |    CAST(len(list_filter(bs, b -> b % 16 = 0)) AS BIGINT) AS hist_0
        |  FROM bytes
        |)
        |SELECT media_id, modality, n_bytes,
        |  CAST(CASE WHEN c_unsigned >= CAST('9223372036854775808' AS HUGEINT)
        |       THEN c_unsigned - CAST('18446744073709551616' AS HUGEINT)
        |       ELSE c_unsigned END AS BIGINT) AS checksum,
        |  hist_0
        |FROM feat""".stripMargin) { (s, dir) =>
      val media = Multimodal.asMediaCorpus(Tables(s, dir).documents, "doc_id", "text")
      Multimodal.extractFeatures(s, media).toDF()
        .select(col("media_id"), col("modality"), col("n_bytes"), col("checksum"),
          element_at(col("histogram"), 1).as("hist_0"))
    },

    Gate("m4_perceptual_dedup",
      // M4: the phash — hex-decoded payload bytes → 16-bucket histogram →
      // above-even-share bits — and the min-id group collapse, re-derived
      // from scratch (m1's byte-extraction idiom)
      """WITH m AS (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id, encode(text) AS payload
        |  FROM documents
        |), hx AS (
        |  SELECT media_id, octet_length(payload) AS n_bytes, hex(payload) AS h FROM m
        |), bytes AS (
        |  SELECT media_id, CAST(n_bytes AS BIGINT) AS n,
        |    list_transform(range(0, CAST(n_bytes AS INT)),
        |      i -> (instr('0123456789ABCDEF', substr(h, 2*i+1, 1)) - 1) * 16
        |         + (instr('0123456789ABCDEF', substr(h, 2*i+2, 1)) - 1)) AS bs
        |  FROM hx
        |), buckets AS (
        |  SELECT media_id, n, unnest(list_transform(bs, b -> b % 16)) AS bucket FROM bytes
        |), g AS (
        |  SELECT media_id, bucket, CAST(count(*) AS BIGINT) AS c, any_value(n) AS n
        |  FROM buckets GROUP BY 1, 2
        |), p AS (
        |  SELECT media_id,
        |    CAST(sum(CASE WHEN c * 16 >= n THEN 1 << bucket ELSE 0 END) AS BIGINT) AS phash
        |  FROM g GROUP BY 1
        |), c2 AS (SELECT phash, min(media_id) AS canonical_id FROM p GROUP BY 1)
        |SELECT media_id, canonical_id, phash FROM p JOIN c2 USING (phash)
        |ORDER BY media_id""".stripMargin) { (s, dir) =>
      // perceptual media dedup: codec-seam features → 16-bit histogram
      // aHash → canonical min id per exact phash group (62 groups at
      // sf0.01). Integer comparisons only, so DuckDB re-derives hash and
      // grouping from the raw payload bytes; hamming-1 banding is
      // spec-gated where radius search is meaningful.
      val media = Multimodal.asMediaCorpus(Tables(s, dir).documents, "doc_id", "text")
      Multimodal.perceptualDedup(s, media).orderBy("media_id")
    },

    Gate("m6_interleave_multi",
      // M6: the m5 replay with a second image stream and text at 2^31-1
      s"""WITH items AS (
         |  SELECT doc_id AS id, 0 AS item_idx, 'image' AS kind,
         |    CAST((((doc_id % 64) * 16 + 16 + 13) // 14)
         |       * (((doc_id % 48) * 16 + 16 + 13) // 14) AS BIGINT) AS n_tokens
         |  FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id, 1, 'image',
         |    CAST((((doc_id % 32) * 16 + 16 + 13) // 14)
         |       * (((doc_id % 24) * 16 + 16 + 13) // 14) AS BIGINT)
         |  FROM documents WHERE doc_id % 6 = 0
         |  UNION ALL
         |  SELECT doc_id, 2147483647, 'text',
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         |  FROM documents
         |), t AS (
         |  SELECT *, md5(CAST(id AS VARCHAR)) AS u,
         |    ${md5UnitSql("id")} % 8 AS shard
         |  FROM items
         |), o AS (
         |  SELECT id, item_idx, kind, n_tokens, shard,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY u, id, item_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
         |  FROM t
         |)
         |SELECT id AS doc_id, item_idx, kind, n_tokens, shard,
         |  off // 512 AS seq_id, off % 512 AS seq_off
         |FROM o ORDER BY doc_id, item_idx""".stripMargin) { (s, dir) =>
      // multi-image interleaving: mod-3 docs carry an image at position 0
      // (the m5 dims), mod-6 docs a SECOND image at position 1 with its
      // own dims — every quantity a pure function of doc_id, so DuckDB
      // replays items, patch costs and the packing row-for-row. Text
      // packs last at item_idx = 2^31-1.
      val docs = Tables(s, dir).documents
      val img0 = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("doc_ref"), lit(0).as("pos"), struct(
          (pmod(col("doc_id"), lit(64)) * 16 + 16).cast("int").as("width"),
          (pmod(col("doc_id"), lit(48)) * 16 + 16).cast("int").as("height"))
          .as("meta"))
      val img1 = docs.filter(col("doc_id") % 6 === 0)
        .select(col("doc_id").as("doc_ref"), lit(1).as("pos"), struct(
          (pmod(col("doc_id"), lit(32)) * 16 + 16).cast("int").as("width"),
          (pmod(col("doc_id"), lit(24)) * 16 + 16).cast("int").as("height"))
          .as("meta"))
      Multimodal.interleavePackMulti(docs, img0.unionByName(img1),
          "doc_id", "text", "doc_ref", "pos", seqLen = 512, shards = 8)
        .orderBy("doc_id", "item_idx")
    },

    Gate("m5_interleaved_pack",
      // M5: t12's replay at item granularity — image items only for mod-3
      // docs (asMediaCorpus's modality rule), patch-token cost re-derived
      // from the same width/height pure functions of doc_id, one added
      // item_idx ordering key keeping a doc's image ahead of its text.
      s"""WITH items AS (
         |  SELECT doc_id AS id, 0 AS item_idx, 'image' AS kind,
         |    CAST((((doc_id % 64) * 16 + 16 + 13) // 14)
         |       * (((doc_id % 48) * 16 + 16 + 13) // 14) AS BIGINT) AS n_tokens
         |  FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id, 1, 'text',
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         |  FROM documents
         |), t AS (
         |  SELECT *, md5(CAST(id AS VARCHAR)) AS u,
         |    ${md5UnitSql("id")} % 8 AS shard
         |  FROM items
         |), o AS (
         |  SELECT id, item_idx, kind, n_tokens, shard,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY u, id, item_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
         |  FROM t
         |)
         |SELECT id AS doc_id, item_idx, kind, n_tokens, shard,
         |  off // 512 AS seq_id, off % 512 AS seq_off
         |FROM o ORDER BY doc_id, item_idx""".stripMargin) { (s, dir) =>
      // interleaved multimodal packing: the media corpus's image rows
      // (mod-3 docs under asMediaCorpus's deterministic modality) fold
      // into the packed stream ahead of their doc's text, costed at
      // ceil(w/14)·ceil(h/14) ViT patch tokens from metadata the oracle
      // re-derives as the same pure function of doc_id. Everything else
      // is t12's md5-order + prefix-sum + integer-div machinery at item
      // granularity — DuckDB replays (shard, seq_id, seq_off) row-for-row.
      val docs = Tables(s, dir).documents
      val media = Multimodal.asMediaCorpus(docs, "doc_id", "text")
        .filter(col("meta.modality") === "image")
      Multimodal.interleavePack(docs, media, "doc_id", "text",
          seqLen = 512, shards = 8)
        .orderBy("doc_id", "item_idx")
    },

    Gate("p4_multimodal_ann",
      // P4: the full multimodal chain re-derived — m1's byte decode, the
      // 16-bin histogram as a double vector, s1's left-fold double cosine
      // and (desc, id) rank. Rounding only on the EMITTED cosine (6dp), the
      // ranking runs on unrounded doubles, like s1.
      """WITH m AS (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id, encode(text) AS payload FROM documents
        |), hx AS (
        |  SELECT media_id, octet_length(payload) AS n_bytes, hex(payload) AS h FROM m
        |), bytes AS (
        |  SELECT media_id, list_transform(range(0, CAST(n_bytes AS INT)),
        |    i -> (instr('0123456789ABCDEF', substr(h, 2*i+1, 1)) - 1) * 16
        |       + (instr('0123456789ABCDEF', substr(h, 2*i+2, 1)) - 1)) AS bs
        |  FROM hx WHERE n_bytes > 0
        |), emb AS (
        |  SELECT media_id, list_transform(range(0, 16),
        |    k -> CAST(len(list_filter(bs, b -> b % 16 = k)) AS DOUBLE)) AS e
        |  FROM bytes
        |), scored AS (
        |  SELECT q.media_id AS query_id, c.media_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(1, 17), i -> q.e[i] * c.e[i])), (a,b) -> a + b)
        |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         list_transform(range(1, 17), i -> q.e[i] * q.e[i])), (a,b) -> a + b))
        |       * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(range(1, 17), i -> c.e[i] * c.e[i])), (a,b) -> a + b))) AS cosine
        |  FROM emb q, emb c WHERE q.media_id < 3 AND q.media_id <> c.media_id
        |)
        |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
        |  FROM scored) WHERE rk <= 5""".stripMargin) { (s, dir) =>
      // composed multimodal retrieval: media corpus → per-partition batch
      // feature extraction (M1's codec seam; the 16-bin byte histogram is
      // the deterministic stand-in embedding) → exact cosine top-k through
      // S1's broadcast-scan + bounded-heap finish. The whole chain —
      // bytes → histogram → double cosine → (desc, id) rank — is
      // re-derived in DuckDB, so the gate certifies the multimodal
      // pipeline end to end, not just the codec stage.
      val media = Multimodal.asMediaCorpus(Tables(s, dir).documents, "doc_id", "text")
      val feats = Multimodal.extractFeatures(s, media).toDF()
        .filter(col("n_bytes") > 0)
        .select(col("media_id"),
          transform(col("histogram"), x => x.cast("double")).as("emb"))
      Similarity.bruteForceTopK(
          feats.filter(col("media_id") < 3), feats, "media_id", "emb", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "neighbor_id")
    },

    Gate("m2_thumbnails",
      // M2: pixel i = payload byte at floor(i·len/64); the hex pair at that
      // index IS the byte, so the thumbnail reassembles from substr slices.
      """WITH m AS (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id, encode(text) AS payload
        |  FROM documents WHERE length(text) > 0
        |), hx AS (
        |  SELECT media_id, octet_length(payload) AS n, hex(payload) AS h FROM m
        |)
        |SELECT media_id, 8 AS width, 8 AS height,
        |  md5(array_to_string(list_transform(range(0, 64),
        |    i -> substr(h, 2*CAST((i*n)//64 AS INT)+1, 2)), '')) AS pix_hash
        |FROM hx""".stripMargin) { (s, dir) =>
      // the resize stage's plumbing, byte-level gated: pixel i is the
      // payload byte at floor(i·len/64) (the stub's deterministic
      // sampling), so DuckDB re-derives the full 64-byte thumbnail from
      // the hex payload and both engines md5 the same pixel bytes.
      val media = Multimodal.asMediaCorpus(
        Tables(s, dir).documents.filter(length(col("text")) > 0), "doc_id", "text")
      Multimodal.resizeThumbnails(s, media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          md5(hex(col("pixels"))).as("pix_hash"))
        .orderBy("media_id")
    },

    Gate("m3_frames",
      // M3: frame f starts at trunc((f·5000/dur)·len); the 32-byte window is
      // the corresponding hex slice (clamped — the final frame may be empty).
      """WITH m AS (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id, encode(text) AS payload,
        |    CAST(length(text) AS BIGINT) * 40 AS dur
        |  FROM documents WHERE length(text) > 0
        |), hx AS (
        |  SELECT media_id, dur, octet_length(payload) AS n, hex(payload) AS h FROM m
        |), f AS (
        |  SELECT media_id, dur, n, h,
        |    unnest(range(0, CAST(dur // 5000 + 1 AS INT))) AS fno
        |  FROM hx
        |), w AS (
        |  SELECT media_id, CAST(fno AS INT) AS frame_no,
        |    CAST(fno * 5000 AS BIGINT) AS offset_ms,
        |    CAST(trunc((CAST(fno * 5000 AS DOUBLE) / dur) * n) AS INT) AS s0, n, h
        |  FROM f
        |), b AS (
        |  SELECT media_id, frame_no, offset_ms,
        |    least(s0, least(n, s0 + 32)) AS s1, least(n, s0 + 32) AS e1, h
        |  FROM w
        |)
        |SELECT media_id, frame_no, offset_ms,
        |  CAST(e1 - s1 AS INT) AS frame_len,
        |  md5(substr(h, 2*s1 + 1, 2*(e1 - s1))) AS frame_hash
        |FROM b""".stripMargin) { (s, dir) =>
      // the frame-sampling stage (1→N flatMap per media row): one frame
      // per 5 s of stub duration, each a 32-byte window at the
      // proportional offset — frame count, offsets, window bounds and
      // window bytes all integer/double-exact in both engines.
      val media = Multimodal.asMediaCorpus(
        Tables(s, dir).documents.filter(length(col("text")) > 0), "doc_id", "text")
      Multimodal.sampleFrames(s, media, everyMs = 5000L, frameBytes = 32).toDF()
        .select(col("media_id"), col("frame_no"), col("offset_ms"),
          length(col("payload")).as("frame_len"),
          md5(hex(col("payload"))).as("frame_hash"))
        .orderBy("media_id", "frame_no")
    },

    Gate("p2_sql_surface",
      // P2: fingerprint re-derived as in t4; shingle count re-derived over
      // STRING shingles (d4's construction) — distinct-hash count equals
      // distinct-string count absent xxhash64 collisions.
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_extract_all(text, '[\s\S]'), c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint,
        |  CAST(len(list_distinct(
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' ')) END)) AS BIGINT) AS n_shingles
        |FROM toks""".stripMargin) { (s, dir) =>
      // P2 driver-visible: the SQL function surface. `register` writes the
      // same FunctionRegistry entries `GraftExtensions.injectFunction` does
      // (both consume GraftFunctions.definitions), so a hash-green result
      // here certifies the whole SQL path: parser → registry lookup →
      // native Expression construction → codegen. Two kernels exercised
      // purely through SQL text; shingle-hash distinct counts equal
      // string-shingle distinct counts absent xxhash64 collisions (the d4
      // argument).
      graft.functions.GraftFunctions.register(s)
      Tables(s, dir).documents.createOrReplaceTempView("graft_p2_documents")
      s.sql("""SELECT doc_id,
              |  poly_fingerprint(text) AS fingerprint,
              |  CAST(size(array_distinct(
              |    word_shingles(split(lower(trim(text)), '\\s+'), 3))) AS BIGINT) AS n_shingles
              |FROM graft_p2_documents""".stripMargin)
    }
  )

  private val SplitSpec = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** DuckDB fragment: the T6 md5 unit — first 8 hex nibbles of md5(expr)
    * folded to a BIGINT, matching `Sampling.hashUnit` digit-for-digit. ONE
    * definition for every split-assigning oracle (t6/p3/p5/t15): a change
    * to the hash derivation lands everywhere or nowhere. */
  private def md5UnitSql(expr: String): String =
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 9), " +
      s"i -> CAST(instr('0123456789abcdef', substr(md5(CAST($expr AS VARCHAR)), i, 1)) - 1 AS BIGINT))), " +
      "(a, b) -> a * 16 + b)"

  /** DuckDB fragment: `CASE ... END` mapping a column named `u` (the md5
    * unit) to the SplitSpec names via the SAME cumulative thresholds the
    * operator computes. */
  private def splitCaseSql: String = {
    val th = Sampling.cumulativeThresholds(SplitSpec)
    "CASE " + th.init.map { case (n, up) => s"WHEN u < $up THEN '$n'" }.mkString(" ") +
      s" ELSE '${th.last._1}' END"
  }

  /** Batch keep-first-per-SimHash drops over a planted corpus, restricted
    * to the planted copy ids — the SQL-derivable drop subset shared by the
    * x5/x11 gates (see the x5 gate comment for the structural argument). */
  private def plantedSimhashDrops(corpus: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__sig").orderBy("doc_id")
    corpus.withColumn("__sig", Dedup.simhash(col("text")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1 && col("doc_id") >= CopyOffset)
      .select("doc_id")
  }

  /** T2 oracle — the stopword list is spliced from the SAME
    * TextAnalysis.Stopwords the operator uses, so they cannot drift. All
    * ratios are int/int divisions cast to double (exact in both engines). */
  private def t2OracleSql: String = {
    val stops = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id, length(text) AS len_chars,
       |  len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       |  CASE WHEN length(text) = 0 THEN 0.0
       |       ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
       |  CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t IN ($stops))) AS DOUBLE)
       |    / len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS stopword_ratio,
       |  1.0 - CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS DOUBLE)
       |    / len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS repetition_ratio,
       |  CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
       |    / len(regexp_split_to_array(trim(text), '\\s+')) AS mean_token_len,
       |  (length(text) >= 100 AND
       |   CASE WHEN length(text) = 0 THEN 0.0
       |        ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) END < 0.1)
       |    AS is_quality
       |FROM documents""".stripMargin
  }

  /** T22 oracle: the planted corpus re-built in SQL, then the same generic
    * rule derivation — word/line splits, list filters, double divisions —
    * over it. The stopword literal list is generated from the SAME
    * `TextAnalysis.Stopwords` the operator reads, so the two can't drift. */
  // ---- shared intake-chain oracle fragments (P16 / P17) ----------------

  /** CTEs `<p>parts` and `<p>canon` deriving `canon_url` from `url` in
    * `src` via the documented D15 contract; `carry` columns ride through. */
  private def canonCtes(p: String, src: String, carry: String): String =
    s"""${p}parts AS (
       |  SELECT $carry,
       |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |    lower(regexp_extract(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
       |                         '^([^/?#]*)', 1)) AS hostport,
       |    regexp_replace(regexp_extract(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
       |                                  '^[^/?#]*(.*)$$', 1), '#.*$$', '') AS nofrag
       |  FROM $src),
       |${p}canon AS (
       |  SELECT $carry,
       |    scheme || '://' ||
       |    regexp_replace(
       |      CASE WHEN scheme = 'http'  THEN regexp_replace(hostport, ':80$$', '')
       |           WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
       |           ELSE hostport END, '^www\\.', '') ||
       |    (CASE WHEN regexp_extract(nofrag, '^([^?]*)', 1) = '' THEN '/'
       |          ELSE regexp_replace(regexp_extract(nofrag, '^([^?]*)', 1), '(.)/$$', '\\1') END) ||
       |    (CASE WHEN len(p) > 0 THEN '?' || array_to_string(p, '&') ELSE '' END) AS canon_url
       |  FROM (SELECT $carry, scheme, hostport, nofrag,
       |          list_sort(list_filter(string_split(regexp_extract(nofrag, '\\?(.*)$$', 1), '&'),
       |            q -> q <> '' AND NOT regexp_matches(q, '^(utm_[^=]*|gclid|fbclid|ref)=')
       |          )) AS p
       |        FROM ${p}parts))""".stripMargin

  /** The T26 normalization chain as one nested SQL expression over `c`. */
  private def normSqlExpr(c: String): String =
    s"""trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |         regexp_replace(regexp_replace(
       |      nfc_normalize($c),
       |      '\\r\\n|\\r', chr(10), 'g'),
       |      '[\\x{200B}-\\x{200D}\\x{FEFF}\\x{00AD}]', '', 'g'),
       |      '[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{007F}]', '', 'g'),
       |      '[ \\t]+', ' ', 'g'),
       |      ' ?\\n ?', chr(10), 'g'),
       |      '\\n{3,}', chr(10)||chr(10), 'g'))""".stripMargin

  /** CTEs `<p>m`, `<p>f`, `<p>quality` — the T22 rule conjunction over
    * (doc_id, text) rows of `src`; `<p>quality` keeps passing docs. */
  private def gopherKeepCtes(p: String, src: String, minWords: Int): String = {
    val stops = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""${p}m AS (
       |  SELECT doc_id, text,
       |    length(trim(text)) = 0 AS empty,
       |    regexp_split_to_array(trim(text), '\\s+') AS words,
       |    string_split(text, chr(10)) AS lines,
       |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
       |                l -> length(l) > 0) AS nb,
       |    regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM $src),
       |${p}f AS (
       |  SELECT doc_id, text,
       |    CASE WHEN empty THEN 0 ELSE len(words) END AS n_words,
       |    CASE WHEN empty THEN 0.0
       |         ELSE CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
       |              / len(words) END AS mean_word_len,
       |    CASE WHEN empty THEN 0.0
       |         ELSE CAST(length(text) - length(replace(text, '#', ''))
       |                   + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
       |              / len(words) END AS symbol_word_ratio,
       |    CASE WHEN empty THEN 0.0
       |         ELSE CAST(len(list_filter(lines, l -> starts_with(ltrim(l), '- ')
       |                                             OR starts_with(ltrim(l), '* '))) AS DOUBLE)
       |              / len(lines) END AS bullet_line_frac,
       |    CASE WHEN empty THEN 0.0
       |         ELSE CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...'))) AS DOUBLE)
       |              / len(lines) END AS ellipsis_line_frac,
       |    CASE WHEN len(nb) = 0 THEN 0.0
       |         ELSE 1.0 - CAST(len(list_distinct(nb)) AS DOUBLE) / len(nb) END AS dup_line_frac,
       |    len(list_filter([$stops], s -> list_contains(toks, s))) AS n_stop_hits
       |  FROM ${p}m),
       |${p}quality AS (
       |  SELECT doc_id, text FROM ${p}f
       |  WHERE n_words BETWEEN $minWords AND 100000
       |    AND mean_word_len BETWEEN 3.0 AND 10.0
       |    AND symbol_word_ratio <= 0.1
       |    AND bullet_line_frac <= 0.9
       |    AND ellipsis_line_frac <= 0.3
       |    AND dup_line_frac <= 0.3
       |    AND n_stop_hits >= 2)""".stripMargin
  }

  /** P17 oracle: the shared intake fragments applied TWICE - bootstrap
    * chain over batch 1, then the batch-2 chain with the url_hash scrub
    * (canonical-URL NOT IN corpus) before content work and the
    * content_hash scrub (md5 of normalized text NOT IN corpus) after -
    * first-arrival-wins end to end. */
  /** S10 (and X20, its streamed form): evenness ≡ live copy at the top,
    * tombstoned ids never returned. */
  private val s10OracleSql: String =
    """SELECT vec_id AS query_id, vec_id % 2 = 0 AS copy_returned,
      |       false AS deleted_returned
      |FROM embeddings WHERE vec_id < 32""".stripMargin

  /** The recall gates (s2, s3, s6, s7, s8, s12, s15): the bound is asserted
    * in-plan, so the oracle is the query count and a literal true. */
  private val recallOracleSql: String =
    """SELECT count(*) AS n_queries, true AS recall_ok
      |FROM embeddings WHERE vec_id < 32""".stripMargin

  /** The planted-copy top-1 (s2, s3, s6, s7, s9, s15): each query's nearest
    * neighbour is its copy at vec_id + 1e6, at cosine 1. */
  private val copyTop1OracleSql: String =
    """SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id, 1.0 AS cosine
      |FROM embeddings WHERE vec_id < 32""".stripMargin

  /** S14 (and S17, its quantized form): every base row joins to its planted
    * copy at cosine 1. */
  private val s14OracleSql: String =
    """SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id, 1.0 AS cosine
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** P14's planted crawl over `documents`: batch 1 (doc_id % 3 ≠ 2, the
    * corpus bootstrap) and the second crawl as three parts — the novel
    * batch-2 docs, re-crawls of batch-1 docs (+1e6 ids, %7) and in-batch dup
    * copies of novel docs (+2e6 ids, %5). p14, x23 and x25 land it. */
  private[graft] def plantedCrawl(s: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    val docs = Tables(s, dir).documents
      .select("doc_id", "lang", "source", "n_chars", "text")
    val batch1 = docs.filter(col("doc_id") % 3 =!= 2)
    val batch2core = docs.filter(col("doc_id") % 3 === 2)
    (batch1, Seq(batch2core,
      batch1.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L),
      batch2core.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000L)))
  }

  /** P14 (and X23, its streamed form): first-arrival-wins over the planted
    * union of [[plantedCrawl]] — batch 1 incumbents (b=0) beat everything;
    * within a batch the min id wins. */
  private[graft] val p14OracleSql: String =
    """WITH all_docs AS (
      |  SELECT doc_id, lang, source, n_chars, text,
      |    CASE WHEN doc_id % 3 <> 2 THEN 0 ELSE 1 END AS b
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang, source, n_chars, text, 1
      |  FROM documents WHERE doc_id % 3 <> 2 AND doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, lang, source, n_chars, text, 1
      |  FROM documents WHERE doc_id % 3 = 2 AND doc_id % 5 = 0
      |),
      |ranked AS (
      |  SELECT doc_id, lang, source, n_chars, md5(text) AS content_hash,
      |    row_number() OVER (PARTITION BY md5(text) ORDER BY b, doc_id) AS rn
      |  FROM all_docs
      |)
      |SELECT doc_id, lang, source, n_chars, content_hash
      |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin

  private def p17OracleSql: String =
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       |pre AS (
       |  SELECT doc_id,
       |    'the cat is on the mat and it is here' || chr(10) || text AS text
       |  FROM d),
       |b1 AS (
       |  SELECT doc_id,
       |    'https://example.com/d/' || CAST(doc_id AS VARCHAR) AS url, text
       |  FROM pre WHERE doc_id % 3 <> 2),
       |b2 AS (
       |  SELECT p.doc_id,
       |    CASE WHEN p.doc_id % 5 = 0
       |         THEN 'https://EXAMPLE.com/d/' || CAST(p.doc_id - 2 AS VARCHAR)
       |              || '?utm_source=r'
       |         ELSE 'https://example.com/d/' || CAST(p.doc_id AS VARCHAR) END AS url,
       |    CASE WHEN p.doc_id % 5 = 1 THEN v.text || chr(8203)
       |         WHEN p.doc_id % 5 = 2
       |           THEN p.text || ' #### #### #### #### #### ####'
       |         ELSE p.text END AS text
       |  FROM pre p LEFT JOIN pre v ON v.doc_id = p.doc_id - 1
       |  WHERE p.doc_id % 3 = 2),
       |${canonCtes("c1", "b1", "doc_id, text")},
       |c1url AS (SELECT min(doc_id) AS doc_id FROM c1canon GROUP BY canon_url),
       |c1norm AS (
       |  SELECT c.doc_id, c.canon_url, ${normSqlExpr("c.text")} AS text
       |  FROM c1canon c JOIN c1url u ON c.doc_id = u.doc_id),
       |${gopherKeepCtes("c1", "c1norm", 15)},
       |c1win AS (SELECT min(doc_id) AS doc_id FROM c1quality GROUP BY md5(text)),
       |corpus1 AS (
       |  SELECT q.doc_id, q.text, n.canon_url
       |  FROM c1quality q JOIN c1win w ON q.doc_id = w.doc_id
       |  JOIN c1norm n ON n.doc_id = q.doc_id),
       |${canonCtes("c2", "b2", "doc_id, text")},
       |c2url AS (SELECT min(doc_id) AS doc_id FROM c2canon GROUP BY canon_url),
       |c2unovel AS (
       |  SELECT c.doc_id, c.text, c.canon_url
       |  FROM c2canon c JOIN c2url u ON c.doc_id = u.doc_id
       |  WHERE c.canon_url NOT IN (SELECT canon_url FROM corpus1)),
       |c2norm AS (
       |  SELECT doc_id, canon_url, ${normSqlExpr("text")} AS text FROM c2unovel),
       |${gopherKeepCtes("c2", "c2norm", 15)},
       |c2win AS (SELECT min(doc_id) AS doc_id FROM c2quality GROUP BY md5(text)),
       |landed AS (
       |  SELECT q.doc_id, q.text
       |  FROM c2quality q JOIN c2win w ON q.doc_id = w.doc_id
       |  WHERE md5(q.text) NOT IN (SELECT md5(text) FROM corpus1)),
       |final AS (
       |  SELECT doc_id, text FROM corpus1
       |  UNION ALL SELECT doc_id, text FROM landed)
       |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
       |FROM final ORDER BY doc_id""".stripMargin

  /** P16 oracle: the d15 -> t26 -> t22 -> d1 fragments chained end to end
    * over the identically replanted corpus (see the gate comment) —
    * URL canonicalization + min-winner, the NFC/regex normalization
    * chain, the Gopher rule conjunction (minWords 15) on the normalized
    * text, then md5-grouped keep-first exact dedup. */
  private def p16OracleSql: String =
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       |base AS (
       |  SELECT a.doc_id, b.text AS base_text
       |  FROM d a JOIN d b
       |    ON b.doc_id = CASE WHEN a.doc_id % 4 = 2 THEN a.doc_id - 2
       |                       ELSE a.doc_id END),
       |planted AS (
       |  SELECT doc_id,
       |    'the cat is on the mat and it is here' || chr(10) || base_text
       |    || CASE WHEN doc_id % 4 = 0
       |            THEN chr(8203)||chr(13)||chr(10)||'Cafe'||chr(769)||' au lait'
       |            WHEN doc_id % 4 = 2 THEN chr(10)||'Caf'||chr(233)||' au lait'
       |            ELSE '' END
       |    || CASE WHEN doc_id % 20 = 0 THEN ' #### #### #### #### #### ####'
       |            ELSE '' END AS text,
       |    (CASE WHEN doc_id % 2 = 0 THEN 'https://EXAMPLE.com/p/'
       |          ELSE 'https://example.com/p/' END)
       |    || CAST(doc_id // 2 AS VARCHAR)
       |    || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x' ELSE '' END) AS url
       |  FROM base),
       |${canonCtes("", "planted", "doc_id, text")},
       |url_kept AS (SELECT min(doc_id) AS doc_id FROM canon GROUP BY canon_url),
       |norm AS (
       |  SELECT c.doc_id,
       |    ${normSqlExpr("c.text")} AS text
       |  FROM canon c JOIN url_kept u ON c.doc_id = u.doc_id),
       |${gopherKeepCtes("", "norm", 15)},
       |winners AS (
       |  SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text))
       |SELECT q.doc_id, CAST(length(q.text) AS BIGINT) AS n_chars
       |FROM quality q JOIN winners w ON q.doc_id = w.doc_id
       |ORDER BY q.doc_id""".stripMargin

  private def t22OracleSql: String = {
    val stops = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    val bullets = (1 to 30).map(i => s"- item $i").mkString("\n").replace("\n", "' || chr(10) || '")
    val dups = Seq.fill(4)("the same exact line").mkString("\n").replace("\n", "' || chr(10) || '")
    s"""WITH p AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 13 <> 0
       |          THEN 'the cat is on the mat and it is here' || chr(10) ELSE '' END)
       |    || text
       |    || (CASE WHEN doc_id % 7 = 0 THEN chr(10) || '$bullets' ELSE '' END)
       |    || (CASE WHEN doc_id % 5 = 0 THEN chr(10) || '$dups' ELSE '' END)
       |    || (CASE WHEN doc_id % 11 = 0 THEN ' ### ## # more... and even more...' ELSE '' END)
       |    || (CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'trailing thought...' ELSE '' END)
       |      AS text
       |  FROM documents
       |), m AS (
       |  SELECT doc_id, text,
       |    length(trim(text)) = 0 AS empty,
       |    regexp_split_to_array(trim(text), '\\s+') AS words,
       |    string_split(text, chr(10)) AS lines,
       |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
       |                l -> length(l) > 0) AS nb,
       |    regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM p
       |), f AS (
       |  SELECT doc_id,
       |    CASE WHEN empty THEN 0 ELSE len(words) END AS n_words,
       |    CASE WHEN empty THEN 0.0
       |         ELSE CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(words) END
       |      AS mean_word_len,
       |    CASE WHEN empty THEN 0.0
       |         ELSE CAST(length(text) - length(replace(text, '#', ''))
       |                   + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE) / len(words) END
       |      AS symbol_word_ratio,
       |    CASE WHEN empty THEN 0.0
       |         ELSE CAST(len(list_filter(lines, l -> starts_with(ltrim(l), '- ')
       |                                             OR starts_with(ltrim(l), '* '))) AS DOUBLE)
       |              / len(lines) END AS bullet_line_frac,
       |    CASE WHEN empty THEN 0.0
       |         ELSE CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...'))) AS DOUBLE)
       |              / len(lines) END AS ellipsis_line_frac,
       |    CASE WHEN len(nb) = 0 THEN 0.0
       |         ELSE 1.0 - CAST(len(list_distinct(nb)) AS DOUBLE) / len(nb) END
       |      AS dup_line_frac,
       |    len(list_filter([$stops], s -> list_contains(toks, s))) AS n_stop_hits
       |  FROM m
       |)
       |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
       |       bullet_line_frac, ellipsis_line_frac, dup_line_frac, n_stop_hits,
       |       (n_words BETWEEN 50 AND 100000
       |        AND mean_word_len BETWEEN 3.0 AND 10.0
       |        AND symbol_word_ratio <= 0.1
       |        AND bullet_line_frac <= 0.9
       |        AND ellipsis_line_frac <= 0.3
       |        AND dup_line_frac <= 0.3
       |        AND n_stop_hits >= 2) AS keep
       |FROM f""".stripMargin
  }

  /** T6 oracle, thresholds generated by the SAME cumulative arithmetic the
    * operator uses; md5 hex agrees across engines, so split membership is a
    * pure cross-engine function of doc_id. */
  private def t6OracleSql: String =
    s"""SELECT doc_id, $splitCaseSql AS split FROM (
       |  SELECT doc_id, ${md5UnitSql("doc_id")} AS u
       |  FROM documents)""".stripMargin

  /** P5 oracle — the t13 scrub, t14 repetition profile, d1 min-id dedup
    * and t6 split fragments chained as one derivation over the same
    * planted chrome. */
  /** Shared curation pipeline (p5/p8 gates): planted chrome+spam+shared-
    * body corpus → boilerplate scrub (T13) → repetition filter (T14) →
    * exact dedup of the CLEANED text (D1). Returns the surviving
    * (doc_id, text) frame; [[curationCteSql]] is its DuckDB replay. */
  private def curatedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val body = when(col("doc_id") % 5 === 0, lit(Seq.fill(40)("spam").mkString(" ")))
      .when(col("doc_id") % 13 === 0, lit("shared duplicate body text"))
      .otherwise(col("text"))
    val planted = docs.select(col("doc_id"), concat(
      lit("ACCEPT COOKIES TO CONTINUE\n"), body,
      lit("\nCopyright Example Site")).as("text"))
    val cleaned = TextAnalysis.stripBoilerplate(planted, "doc_id", "text",
        maxDocFrac = 0.5, knownN = docs.count())
      .withColumnRenamed("clean_text", "text")
    val keep = TextAnalysis.repetitionProfile(cleaned, "doc_id", "text", ngramN = 2)
      .filter(!col("is_repetitive")).select("doc_id")
    val kept = cleaned.join(keep, Seq("doc_id"), "left_semi")
    Dedup.exactDedup(kept, "text", "doc_id")
  }

  /** Shared curation CTE chain (p5/p8): planted chrome+spam+shared-body
    * corpus → boilerplate scrub → repetition filter → survivors with
    * their CLEANED text, ending at the `surv` CTE. */
  private def curationCteSql: String = {
    val spam = Seq.fill(40)("spam").mkString(" ")
    s"""WITH p AS (
       |  SELECT doc_id,
       |    'ACCEPT COOKIES TO CONTINUE' || chr(10) ||
       |    CASE WHEN doc_id % 5 = 0 THEN '$spam'
       |         WHEN doc_id % 13 = 0 THEN 'shared duplicate body text'
       |         ELSE text END ||
       |    chr(10) || 'Copyright Example Site' AS text
       |  FROM documents
       |), t AS (
       |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM p
       |), ex AS (
       |  SELECT doc_id, i, ls[i+1] AS l, trim(ls[i+1]) AS tl
       |  FROM t, unnest(range(len(ls))) AS u(i)
       |), freq AS (
       |  SELECT tl FROM (
       |    SELECT tl, count(DISTINCT doc_id) AS d FROM ex WHERE tl <> '' GROUP BY tl
       |  ) WHERE d >= greatest(2, CAST(ceil(0.5 * (SELECT count(*) FROM documents)) AS BIGINT))
       |), kept AS (
       |  SELECT doc_id, i, l FROM ex WHERE tl NOT IN (SELECT tl FROM freq)
       |), clean AS (
       |  SELECT d.doc_id, coalesce(r.t, '') AS text
       |  FROM documents d LEFT JOIN (
       |    SELECT doc_id, string_agg(l, chr(10) ORDER BY i) AS t
       |    FROM kept GROUP BY doc_id
       |  ) r USING (doc_id)
       |), l2 AS (
       |  SELECT doc_id,
       |    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> len(x) > 0) AS ls,
       |    regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
       |  FROM clean
       |), s2 AS (
       |  SELECT doc_id,
       |    CAST(len(ls) AS BIGINT) AS n_lines,
       |    CAST(len(ls) - len(list_distinct(ls)) AS BIGINT) AS dup_lines,
       |    tk
       |  FROM l2
       |), e2 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS g
       |  FROM s2 WHERE len(tk) >= 2
       |), c2 AS (
       |  SELECT doc_id, g, count(*) AS n FROM e2 GROUP BY doc_id, g
       |), a2 AS (
       |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_ngrams, CAST(max(n) AS BIGINT) AS top_n
       |  FROM c2 GROUP BY doc_id
       |), prof AS (
       |  SELECT s2.doc_id,
       |    ((s2.n_lines > 0 AND s2.dup_lines * 10 >= s2.n_lines * 3)
       |      OR (coalesce(a2.n_ngrams, 0) > 0 AND coalesce(a2.top_n, 0) * 5 >= coalesce(a2.n_ngrams, 0))) AS rep
       |  FROM s2 LEFT JOIN a2 USING (doc_id)
       |), surv AS (
       |  SELECT c.doc_id, c.text FROM clean c JOIN prof USING (doc_id) WHERE NOT prof.rep
       |)""".stripMargin
  }

  private def p5OracleSql: String =
    curationCteSql +
      s""", d AS (
         |  SELECT min(doc_id) AS doc_id FROM surv GROUP BY md5(text)
         |)
         |SELECT doc_id, $splitCaseSql AS split FROM (
         |  SELECT doc_id, ${md5UnitSql("doc_id")} AS u
         |  FROM d)""".stripMargin

  /** Shared integer-unit BM25 oracle fragment (t20/p8): scoring over a
    * (doc_id, text) relation `rel`; emits the final SELECT. Must stay in
    * lockstep with [[graft.operators.Search.bm25TopK]]. */
  private[graft] def bm25OracleSql(rel: String, terms: Seq[String], k: Int): String =
    bm25CtesSql(rel, terms) + "\n" + bm25FinalSql(k)

  /** The ranked-list SELECT over the [[bm25CtesSql]] fragment. */
  private[graft] def bm25FinalSql(k: Int): String =
    s"""SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
       |  CAST(sum(idf_mb * sat_u) AS BIGINT) AS score_u
       |FROM bm_scored GROUP BY doc_id
       |ORDER BY score_u DESC, doc_id LIMIT $k""".stripMargin

  /** The CTE chain alone (through `bm_scored`) — composable, so P9's RRF
    * oracle can wrap the ranked list as one more CTE. */
  private[graft] def bm25CtesSql(rel: String, terms: Seq[String]): String = {
    val in = terms.map(t => s"'$t'").mkString(", ")
    s"""bm_toks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
       |  FROM $rel
       |), bm_dl AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM bm_toks GROUP BY 1
       |), bm_corp AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sdl FROM bm_dl
       |), bm_tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM bm_toks
       |  WHERE term IN ($in) GROUP BY 1, 2
       |), bm_df AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM bm_tf GROUP BY 1
       |), bm_idf AS (
       |  SELECT term,
       |    (CAST(length(bin(q)) AS BIGINT) - 11) * 1000
       |      + ((q - (CAST(1 AS BIGINT) << (length(bin(q)) - 1))) * 1000)
       |        // (CAST(1 AS BIGINT) << (length(bin(q)) - 1)) AS idf_mb
       |  FROM (SELECT term,
       |          ((2 * n + 2) * (2 * n + 2) * 1024) // ((2 * df + 1) * (2 * df + 1)) AS q
       |        FROM bm_df, bm_corp)
       |), bm_scored AS (
       |  SELECT bm_tf.doc_id, bm_idf.idf_mb,
       |    (bm_tf.tf * (1000 + 1200) * 1000000)
       |      // (bm_tf.tf * 1000
       |          + (1200 * (1000 - 750 + (750 * bm_dl.dl * bm_corp.n) // bm_corp.sdl)) // 1000)
       |      AS sat_u
       |  FROM bm_tf JOIN bm_idf USING (term) JOIN bm_dl USING (doc_id), bm_corp
       |)""".stripMargin
  }

  private def p8OracleSql: String =
    curationCteSql +
      """, d AS (
        |  SELECT min(doc_id) AS doc_id, text FROM surv GROUP BY text
        |), """.stripMargin +
      bm25OracleSql("d", Seq("dup", "merge", "vector", "spark", "quantum"), 40)

  /** DuckDB fragment: the t4 polyhash of a token expression — fold
    * (acc·31 + codepoint) mod 1e9+7, matching `PolyFingerprint`. */
  private def polyHashSql(e: String): String =
    "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(regexp_extract_all($e, '[\\s\\S]'), c -> CAST(ascii(c) AS BIGINT))), " +
      "(acc, c) -> (acc * 31 + c) % 1000000007)"

  /** T25 oracle fragment: the DSIR fit and per-doc scores as a CTE chain
    * (through `ds_pd`), composable so P15's corpus-cut oracle can keep
    * deriving — t4 polyhash buckets (t21's bucketing), add-one-smoothed
    * bucket multinomials for target (lang='en') vs raw, the t20
    * fixed-point log2 millibit kernel on the Q10 ratio, per-token sum. */
  private def t25CtesSql(rel: String = "documents"): String =
    s"""ds_tk AS (
       |  SELECT doc_id, lang = 'en' AS tgt,
       |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
       |  FROM $rel
       |), ds_bk AS (
       |  SELECT doc_id, tgt, ${polyHashSql("tok")} % 512 AS b FROM ds_tk
       |), ds_st AS (
       |  SELECT b, CAST(count(*) AS BIGINT) AS rb,
       |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tb
       |  FROM ds_bk GROUP BY b
       |), ds_tot AS (
       |  SELECT CAST(sum(rb) AS BIGINT) AS rtot, CAST(sum(tb) AS BIGINT) AS ttot
       |  FROM ds_st
       |), ds_lr AS (
       |  SELECT b,
       |    (CAST(length(bin(q)) AS BIGINT) - 11) * 1000
       |      + ((q - (CAST(1 AS BIGINT) << (length(bin(q)) - 1))) * 1000)
       |        // (CAST(1 AS BIGINT) << (length(bin(q)) - 1)) AS lr_mb
       |  FROM (SELECT b,
       |          GREATEST(((tb + 1) * (rtot + 512) * 1024)
       |                     // ((rb + 1) * (ttot + 512)), 1) AS q
       |        FROM ds_st, ds_tot)
       |), ds_pd AS (
       |  SELECT ds_bk.doc_id, CAST(sum(ds_lr.lr_mb) AS BIGINT) AS score_u
       |  FROM ds_bk JOIN ds_lr USING (b) GROUP BY ds_bk.doc_id
       |)""".stripMargin

  /** T25 oracle: the fit replayed digit-for-digit, total over docs. */
  private def t25OracleSql: String =
    s"""WITH ${t25CtesSql()}
       |SELECT d.doc_id, CAST(coalesce(pd.score_u, 0) AS BIGINT) AS score_u,
       |  coalesce(pd.score_u, 0) > 0 AS selected
       |FROM documents d LEFT JOIN ds_pd pd USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** P15 oracle: the T25 fit over the marker-planted corpus, chained into
    * the T6 split — the per-split audit (doc count, importance mass) over
    * the selected cut. The marker makes the target distribution genuinely
    * distinct at every SF, so the selection is non-trivial (the natural
    * corpus text is not language-differentiated and would select ~nothing). */
  private def p15OracleSql: String =
    s"""WITH ds_src AS (
       |  SELECT doc_id, lang,
       |    text || CASE WHEN lang = 'en'
       |                 THEN ' targetmarker targetmarker targetmarker'
       |                 ELSE '' END AS text
       |  FROM documents
       |), ${t25CtesSql("ds_src")},
       |ds_sel AS (
       |  SELECT d.doc_id, CAST(coalesce(pd.score_u, 0) AS BIGINT) AS score_u
       |  FROM documents d LEFT JOIN ds_pd pd USING (doc_id)
       |  WHERE coalesce(pd.score_u, 0) > 0
       |)
       |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(score_u) AS BIGINT) AS sum_score_u
       |FROM (
       |  SELECT doc_id, score_u, $splitCaseSql AS split FROM (
       |    SELECT doc_id, score_u, ${md5UnitSql("doc_id")} AS u FROM ds_sel))
       |GROUP BY split ORDER BY split""".stripMargin

  /** DuckDB fragment: the T21 classifier scoring CTE chain over a
    * (doc_id, text) relation `rel` — tokens, polyhash buckets, the frozen
    * non-zero weight VALUES, bias + sum. Ends with a `<p>_sc` CTE holding
    * (doc_id, score_mu); CTE names are prefixed so callers can chain it. */
  private def t21CtesSql(rel: String, p: String): String =
    s"""${p}_tk AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
       |  FROM $rel
       |), ${p}_bk AS (
       |  SELECT doc_id,
       |    ${polyHashSql("tok")} % ${graft.functions.QualityClfWeights.Buckets} AS bucket
       |  FROM ${p}_tk
       |), ${p}_w(bucket, wt) AS (VALUES ${graft.functions.QualityClfWeights.valuesSql}
       |), ${p}_sc AS (
       |  SELECT ${p}_bk.doc_id,
       |    CAST(${graft.functions.QualityClfWeights.BiasMu} + sum(coalesce(${p}_w.wt, 0)) AS BIGINT) AS score_mu
       |  FROM ${p}_bk LEFT JOIN ${p}_w USING (bucket) GROUP BY ${p}_bk.doc_id
       |)""".stripMargin

  /** T21: scoring replayed from the frozen weight table — per-token t4
    * polyhash mod 512, LEFT JOIN against the non-zero (bucket, weight_mu)
    * VALUES, summed with the bias. The weights are constants generated by
    * tools/train_quality_clf.py, so both engines score identically whether
    * or not the training was any good (that part is ClassifierSpec's). */
  private def t21OracleSql: String =
    s"""WITH p AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0
       |         THEN text || ' $SpamTail'
       |         ELSE text END AS text
       |  FROM documents
       |), ${t21CtesSql("p", "q")}
       |SELECT doc_id, score_mu, score_mu > 0 AS is_quality
       |FROM q_sc ORDER BY doc_id""".stripMargin

  /** P10: the mixture thresholds re-derived from scratch — per-mille
    * targets by floor division, HUGEINT for the 2^32-scaled threshold
    * (mirroring the operator's DECIMAL(38,0)), md5-unit membership. */
  private def p10OracleSql: String =
    s"""WITH w(source, pm) AS (VALUES
       |  ('src0', 500), ('src1', 200), ('src2', 150), ('src3', 100), ('src4', 50)
       |), tot AS (
       |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS total
       |  FROM documents GROUP BY source
       |), th AS (
       |  SELECT w.source,
       |    CASE WHEN tot.total <= (20000 * pm) // 1000
       |         THEN CAST(4294967296 AS BIGINT)
       |         ELSE CAST((CAST((20000 * pm) // 1000 AS HUGEINT) * 4294967296)
       |                   // tot.total AS BIGINT) END AS thresh
       |  FROM w JOIN tot USING (source)
       |)
       |SELECT d.doc_id, d.source, d.n_chars
       |FROM documents d JOIN th USING (source)
       |WHERE ${md5UnitSql("doc_id")} < th.thresh
       |ORDER BY d.doc_id""".stripMargin

  /** P11: every stage's oracle fragment chained into ONE DuckDB query —
    * planting, T21 scoring + filter, D11 keep-first lines + rebuild, D12
    * gram/span/removal, P10 HUGEINT thresholds + md5 membership, T6 md5
    * split. Any stage leaking a spam doc, an extra line copy, a kept
    * duplicated span, a wrong token mass or a wrong threshold moves the
    * final hash. */
  /** p11/p13's shared stage chain: planted corpus → T21 learned quality
    * gate (spam dropped before any dedup, the X11 order) → D11 corpus-wide
    * line dedup → D12 duplicated-span removal → cleaned token mass → P10
    * budget mixture. Returns the sampled (doc_id, source, n_tokens) frame;
    * [[p11CtesSql]] is its DuckDB replay ending at the `samp` CTE. */
  private def curationV3Sampled(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val planted = docs.select(col("doc_id"), col("source"), concat(
        lit("ACCEPT COOKIES TO CONTINUE\n"),
        col("text"),
        when(col("doc_id") % 4 === 0, lit("\nlimited time promo offer"))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit(" " + Chunk12)).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" " + SpamTail)).otherwise(lit("")))
      .as("text"))
    val quality = planted.filter(
      graft.functions.QualityClassifier.scoreMu(Search.toks(col("text"))) > 0)
    val lined = SpanDedup.lineDedup(quality.select("doc_id", "text"), "text", "doc_id")
    val cleaned = SpanDedup.substringDedup(lined, "text", "doc_id", minTokens = 8)
    val massed = cleaned
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .withColumn("n_tokens",
        when(length(col("clean_text")) === 0, lit(0L))
          .otherwise(size(split(col("clean_text"), " ")).cast("long")))
    Sampling.budgetMixture(massed, "doc_id", "source", "n_tokens",
      Seq("src0" -> 500L, "src1" -> 200L, "src2" -> 150L,
        "src3" -> 100L, "src4" -> 50L), budget = 4000L)
  }

  /** p11/p13's shared CTE stack — the full curation replay ending at the
    * sampled `samp` (doc_id, source, n_tokens). */
  private def p11CtesSql: String =
    s"""WITH p AS (
       |  SELECT doc_id, source,
       |    'ACCEPT COOKIES TO CONTINUE' || chr(10) || text
       |    || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'limited time promo offer' ELSE '' END
       |    || CASE WHEN doc_id % 3 = 0 THEN ' $Chunk12' ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0 THEN ' $SpamTail' ELSE '' END AS text
       |  FROM documents
       |), ${t21CtesSql("p", "q")},
       |surv AS (
       |  SELECT p.doc_id, p.source, p.text FROM p JOIN q_sc USING (doc_id)
       |  WHERE q_sc.score_mu > 0
       |), l AS (
       |  SELECT doc_id, i - 1 AS ln, trim(arr[i]) AS line
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS arr FROM surv) s1,
       |    unnest(range(1, len(arr) + 1)) AS u(i)
       |  WHERE trim(arr[i]) <> ''
       |), kft AS (
       |  SELECT doc_id, ln, line FROM (
       |    SELECT doc_id, ln, line,
       |      row_number() OVER (PARTITION BY line ORDER BY doc_id, ln) AS rk
       |    FROM l) WHERE rk = 1
       |), reb AS (
       |  SELECT s2.doc_id, s2.source, coalesce(ka.text, '') AS text
       |  FROM surv s2 LEFT JOIN (
       |    SELECT doc_id, string_agg(line, chr(10) ORDER BY ln) AS text
       |    FROM kft GROUP BY doc_id) ka USING (doc_id)
       |), t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM reb
       |), g AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    array_to_string(list_slice(toks, i + 1, i + 8), ' ') AS gram
       |  FROM t, unnest(range(0, len(toks) - 8 + 1)) AS u(i)
       |  WHERE len(toks) >= 8
       |), r AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos,
       |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rk,
       |      count(*) OVER (PARTITION BY gram) AS c
       |    FROM g) WHERE c >= 2 AND rk > 1
       |), isl AS (
       |  SELECT doc_id, pos,
       |    sum(CASE WHEN prev IS NOT NULL AND pos <= prev + 8 THEN 0 ELSE 1 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM (SELECT doc_id, pos,
       |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM r)
       |), sp AS (
       |  SELECT doc_id, island, min(pos) AS s, max(pos) + 8 AS e
       |  FROM isl GROUP BY doc_id, island
       |), tok2 AS (
       |  SELECT doc_id, CAST(j AS BIGINT) AS pos, toks[j + 1] AS tok
       |  FROM t, unnest(range(0, len(toks))) AS u(j)
       |), keep2 AS (
       |  SELECT k.doc_id, k.pos, k.tok FROM tok2 k
       |  WHERE NOT EXISTS (SELECT 1 FROM sp
       |    WHERE sp.doc_id = k.doc_id AND k.pos >= sp.s AND k.pos < sp.e)
       |), ct AS (
       |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
       |  FROM keep2 GROUP BY doc_id
       |), mass AS (
       |  SELECT reb.doc_id, reb.source,
       |    CASE WHEN coalesce(ct.clean_text, '') = '' THEN 0
       |         ELSE CAST(len(string_split(ct.clean_text, ' ')) AS BIGINT) END AS n_tokens
       |  FROM reb LEFT JOIN ct USING (doc_id)
       |), tot AS (
       |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total FROM mass GROUP BY source
       |), w2(source, pm) AS (VALUES
       |  ('src0', 500), ('src1', 200), ('src2', 150), ('src3', 100), ('src4', 50)
       |), th AS (
       |  SELECT w2.source,
       |    CASE WHEN tot.total <= (4000 * pm) // 1000
       |         THEN CAST(4294967296 AS BIGINT)
       |         ELSE CAST((CAST((4000 * pm) // 1000 AS HUGEINT) * 4294967296)
       |                   // tot.total AS BIGINT) END AS thresh
       |  FROM w2 JOIN tot USING (source)
       |), samp AS (
       |  SELECT m.doc_id, m.source, m.n_tokens FROM mass m JOIN th USING (source)
       |  WHERE ${md5UnitSql("m.doc_id")} < th.thresh
       |)""".stripMargin

  private def p11OracleSql: String = p11CtesSql +
    s"""
       |SELECT doc_id, source, n_tokens, $splitCaseSql AS split FROM (
       |  SELECT doc_id, source, n_tokens, ${md5UnitSql("doc_id")} AS u FROM samp)
       |ORDER BY doc_id""".stripMargin

  /** P13: p11's chain extended by t12's packing fragment and the shard
    * manifest stats — the whole corpus build replayed. */
  private def p13OracleSql: String = p11CtesSql +
    """, pk AS (
      |  SELECT doc_id, source, n_tokens,
      |    md5(CAST(doc_id AS VARCHAR)) AS u1,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, 9),
      |        i -> CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT))),
      |      (a, b) -> a * 16 + b) % 4 AS shard
      |  FROM samp
      |), o2 AS (
      |  SELECT doc_id, source, shard, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY u1, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
      |  FROM pk
      |), map2 AS (
      |  SELECT doc_id, source, shard, off // 128 AS seq_id, off % 128 AS seq_off,
      |         n_tokens
      |  FROM o2
      |), st2 AS (
      |  SELECT shard, CAST(count(*) AS BIGINT) AS shard_docs,
      |         CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
      |         CAST((sum(n_tokens) + 127) // 128 AS BIGINT) AS shard_seqs
      |  FROM map2 GROUP BY shard
      |)
      |SELECT m.doc_id, m.source, m.shard, m.seq_id, m.seq_off,
      |       s2.shard_docs, s2.shard_tokens, s2.shard_seqs
      |FROM map2 m JOIN st2 s2 USING (shard)
      |ORDER BY doc_id""".stripMargin

  /** P9: both ranked lists re-derived from scratch (the t20 BM25 CTEs and
    * the s1 sequential-fold cosine), then the integer RRF combine. */
  private def p9OracleSql: String =
    "WITH " +
      bm25CtesSql("documents", Seq("dup", "merge", "vector", "spark", "quantum")) +
      s""", bm_list AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score_u DESC, doc_id) AS BIGINT) AS rank
         |  FROM (${bm25FinalSql(30)})
         |), ann_scored AS (
         |  SELECT c.vec_id AS neighbor_id,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, len(q.qv)+1), i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE))),
         |      (a,b) -> a + b)
         |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |         list_transform(range(1, len(q.qv)+1), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))),
         |         (a,b) -> a + b))
         |       * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |           list_transform(range(1, len(c.cv)+1), i -> CAST(c.cv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE))),
         |           (a,b) -> a + b))) AS cosine
         |  FROM (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q,
         |       (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id <> 0) c
         |), ann_top AS (
         |  SELECT neighbor_id, cosine FROM ann_scored
         |  ORDER BY cosine DESC, neighbor_id LIMIT 30
         |), ann_list AS (
         |  SELECT neighbor_id AS doc_id,
         |    CAST(row_number() OVER (ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM ann_top
         |), rrf_u_all AS (
         |  SELECT doc_id, rank FROM bm_list
         |  UNION ALL SELECT doc_id, rank FROM ann_list
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
         |  CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_u
         |FROM rrf_u_all GROUP BY doc_id
         |ORDER BY rrf_u DESC, doc_id LIMIT 20""".stripMargin

  /** Shared WITH-prefix for the d6/t15 oracles: the planted near-dup
    * corpus, its exact-Jaccard pairs, and recursive-CTE connected
    * components. Ends after the `comp` CTE — d6 appends its final SELECT,
    * t15 appends further CTEs keyed on the component label. */
  private val componentCteSql =
    """WITH RECURSIVE corpus AS (
      |  SELECT doc_id AS id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS id,
      |         substr(text, 1, greatest(20, CAST(trunc(length(text)*0.9) AS INT))) AS text
      |  FROM documents
      |), toks AS (
      |  SELECT id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM corpus
      |), sets AS (
      |  SELECT id, list_distinct(
      |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |         ELSE list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' ')) END) AS s
      |  FROM toks
      |), ex AS (
      |  SELECT id, unnest(s) AS sh FROM sets
      |), inter AS (
      |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
      |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.id < b.id
      |  GROUP BY 1, 2
      |), sizes AS (
      |  SELECT id, len(s) AS sz FROM sets
      |), pairs AS (
      |  SELECT id_a, id_b FROM (
      |    SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
      |    FROM inter JOIN sizes sa ON inter.id_a = sa.id
      |               JOIN sizes sb ON inter.id_b = sb.id
      |  ) WHERE jaccard >= 0.5
      |), und AS (
      |  SELECT id_a AS u, id_b AS v FROM pairs
      |  UNION ALL
      |  SELECT id_b AS u, id_a AS v FROM pairs
      |), reach(id, r) AS (
      |  SELECT u, v FROM und
      |  UNION
      |  SELECT reach.id, und.v FROM reach JOIN und ON reach.r = und.u
      |), comp AS (
      |  SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id
      |)""".stripMargin

  /** T1 oracle, generated from the SAME marker table the operator uses
    * (TextAnalysis.LangMarkers) so the two can never drift: per-language
    * marker-hit counts over the padded lowercase text, best (score, lang)
    * struct via list_max — DuckDB struct ordering = field order = exactly
    * Spark's greatest(struct(score, lang)) tie-break — and 'und' at zero. */
  private def t1OracleSql: String = {
    val langs = TextAnalysis.LangMarkers.keys.toSeq.sorted
    def esc(m: String) = m.replace("'", "''")
    val scored = langs.map { l =>
      val hits = TextAnalysis.LangMarkers(l)
        .map(m => s"CAST(contains(padded, '${esc(m)}') AS INT)").mkString(" + ")
      s"{'s': $hits, 'l': '$l'}"
    }
    s"""WITH p AS (
       |  SELECT doc_id, lang, ' ' || lower(text) || ' ' AS padded FROM documents
       |), best AS (
       |  SELECT doc_id, lang, list_max([${scored.mkString(", ")}]) AS b FROM p
       |)
       |SELECT doc_id, lang AS labeled_lang,
       |  CASE WHEN b['s'] = 0 THEN 'und' ELSE b['l'] END AS detected_lang
       |FROM best""".stripMargin
  }

  /** P3 oracle — the composed pipeline re-derived: T2's quality predicate
    * (spliced verbatim from the t2 oracle), D1's min-id-per-content-hash
    * winner, T6's md5-threshold split (thresholds generated by the SAME
    * cumulative arithmetic the operator uses). */
  private def p3OracleSql: String =
    s"""WITH q AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE length(text) >= 100 AND
       |    CASE WHEN length(text) = 0 THEN 0.0
       |         ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) END < 0.1
       |), d AS (
       |  SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)
       |)
       |SELECT doc_id, $splitCaseSql AS split FROM (
       |  SELECT doc_id, ${md5UnitSql("doc_id")} AS u
       |  FROM d)""".stripMargin

  /** T8 oracle — the regexes are spliced verbatim from the SAME
    * TextAnalysis constants the operator compiles (they live in the
    * Java∩RE2 subset, so DuckDB executes them identically; backslashes
    * pass through DuckDB single-quoted strings unprocessed). */
  private def t8OracleSql: String = {
    val (em, ph, ip) = (TextAnalysis.EmailRe, TextAnalysis.PhoneRe, TextAnalysis.Ipv4Re)
    s"""WITH p AS (
       |  SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR)
       |         || '@example.com or 555-867-5309 at 10.0.0.'
       |         || CAST(doc_id % 256 AS VARCHAR) AS text
       |  FROM documents
       |)
       |SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$em', '<EMAIL>', 'g'),
       |    '$ph', '<PHONE>', 'g'),
       |    '$ip', '<IP>', 'g') AS redacted,
       |  len(regexp_extract_all(text, '$em')) AS n_emails,
       |  len(regexp_extract_all(text, '$ph')) AS n_phones,
       |  len(regexp_extract_all(text, '$ip')) AS n_ips
       |FROM p""".stripMargin
  }

  /** D7/D8 oracle — the decontamination set re-derived over STRING shingles
    * (hash-set ≡ string-set membership absent xxhash64 collisions): train
    * docs whose k=3 shingle set intersects the eval slice's. Shared by d7
    * (exact) and d8 (bloom ∩ exact — false negatives impossible, so the
    * intersection is the same set). */
  private def decontOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents
      |), sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |         ELSE list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' ')) END)) AS sh
      |  FROM toks
      |)
      |SELECT DISTINCT a.doc_id FROM sh a
      |WHERE a.doc_id >= 20
      |  AND a.sh IN (SELECT b.sh FROM sh b WHERE b.doc_id < 20)""".stripMargin

  /** T29 oracle: BPE training unrolled step by step in SQL. Per step i,
    * `p_i` re-counts the corpus-weighted adjacent pairs over the current
    * token lists, `m_i` takes the argmax under the deterministic tie law,
    * and `s_i` applies the chosen merge with a list_reduce fold (elements
    * lifted to singleton lists so the accumulator can BE the rebuilt token
    * list; a freshly merged token can never equal the merge's left side —
    * left||right is strictly longer — so the fold cannot cascade within a
    * pass, matching the non-overlapping left-to-right law). */
  /** The unrolled-training CTE chain shared by t29 (emits the merges) and
    * p19 (feeds them into the t16 recursive tokenizer): `wfreq`/`s0` set up
    * the weighted codepoint state, then per step i `p_i` (pair recount),
    * `m_i` (argmax under the tie law) and `s_i` (merge fold). */
  private def bpeTrainCtes(k: Int): String = {
    val steps = (1 to k).map { i =>
      val prev = if (i == 1) "s0" else s"s${i - 1}"
      s""", p$i AS (
         |  SELECT pr.a AS a, pr.b AS b, CAST(sum(c) AS BIGINT) AS cnt FROM (
         |    SELECT s.c AS c,
         |      unnest(list_transform(range(1, len(s.toks)),
         |        j -> {'a': s.toks[j], 'b': s.toks[j+1]})) AS pr
         |    FROM $prev s) q
         |  GROUP BY 1, 2
         |), m$i AS (
         |  SELECT a, b FROM p$i ORDER BY cnt DESC, a DESC, b DESC LIMIT 1
         |), s$i AS (
         |  SELECT s.c,
         |    list_reduce(list_transform(s.toks, t -> [t]),
         |      (acc, x) -> CASE WHEN acc[len(acc)] = m.a AND x[1] = m.b
         |        THEN acc[1:len(acc)-1] || [m.a || m.b]
         |        ELSE acc || x END) AS toks
         |  FROM $prev s, m$i m
         |)""".stripMargin
    }.mkString
    s"""wfreq AS (
       |  SELECT w, count(*) AS c FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS w
       |    FROM documents) GROUP BY w
       |), s0 AS (
       |  SELECT c, list_transform(range(1, len(w)+1), i -> w[i]) AS toks FROM wfreq
       |)$steps""".stripMargin
  }

  private val t29OracleSql: String = {
    val k = 8
    val sel = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, a AS lhs, b AS rhs FROM m$i")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeTrainCtes(k)}
       |$sel
       |ORDER BY step""".stripMargin
  }

  /** P19 oracle: the trained table (m1..m8 with ranks) handed straight to
    * the t16 recursive tokenizer — one SQL statement re-derives the WHOLE
    * retrain-and-apply chain from the raw corpus. */
  private val p19OracleSql: String = {
    val k = 8
    val mergeTab = (1 to k).map(i => s"SELECT $i AS rank, a, b FROM m$i")
      .mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE ${bpeTrainCtes(k)},
       |mergetab AS (
       |$mergeTab
       |),
       |words AS (
       |  SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS w
       |  FROM documents
       |),
       |state AS (
       |  SELECT w, list_transform(range(1, len(w)+1), i -> w[i]) AS toks FROM words
       |  UNION ALL
       |  SELECT s.w,
       |    s.toks[1:p.i-1] || [s.toks[p.i] || s.toks[p.i+1]] || s.toks[p.i+2:] AS toks
       |  FROM state s
       |  JOIN LATERAL (
       |    SELECT i FROM unnest(range(1, len(s.toks))) AS t(i)
       |    JOIN mergetab m ON m.a = s.toks[i] AND m.b = s.toks[i+1]
       |    ORDER BY m.rank, i LIMIT 1
       |  ) p ON true
       |),
       |final AS (
       |  SELECT w, len(toks) AS n FROM state s
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM unnest(range(1, len(s.toks))) AS t(i)
       |    JOIN mergetab m ON m.a = s.toks[i] AND m.b = s.toks[i+1])
       |)
       |SELECT d.doc_id, CAST(coalesce(sum(f.n), 0) AS BIGINT) AS fresh_tokens
       |FROM documents d
       |LEFT JOIN (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS w
       |           FROM documents) dw ON dw.doc_id = d.doc_id
       |LEFT JOIN final f ON f.w = dw.w
       |GROUP BY d.doc_id""".stripMargin
  }

  /** T30 oracle: the vocabulary re-derived — base tokens are the distinct
    * codepoints of the training words in lexicographic order (DuckDB's
    * binary collation ≡ codepoint order), ids their dense ranks; merge
    * tokens follow in merge order off the unrolled chain. */
  private val t30OracleSql: String = {
    val k = 8
    val mergedSel = (1 to k).map(i =>
      s"SELECT CAST((SELECT c FROM nb) + ${i - 1} AS BIGINT) AS token_id, a || b AS token, 'merge' AS kind FROM m$i")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeTrainCtes(k)},
       |base AS (
       |  SELECT DISTINCT tok FROM (
       |    SELECT unnest(list_transform(range(1, len(w)+1), i -> w[i])) AS tok
       |    FROM wfreq)
       |), nb AS (SELECT CAST(count(*) AS BIGINT) AS c FROM base)
       |SELECT CAST(row_number() OVER (ORDER BY tok) - 1 AS BIGINT) AS token_id,
       |  tok AS token, 'base' AS kind FROM base
       |UNION ALL
       |$mergedSel
       |ORDER BY token_id""".stripMargin
  }

  /** DuckDB oracles for the SQL-expressible subset. */
  /** t27/t28 shared oracle: dirt replanted with chr(), flags + chain
    * replayed from the SAME compiled constants (see t27 gate doc). */
  private val t27OracleSql: String = (
      """WITH dirty AS (
        |  SELECT doc_id,
        |    '  ' || chr(9) || text
        |    || CASE WHEN doc_id % 2 = 0
        |         THEN chr(13)||chr(10)||'Cafe'||chr(769)||' au lait' ELSE '' END
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ' '||chr(1605)||chr(1740)||chr(8204)||chr(1585)||chr(1608)||chr(1605)||chr(8203) ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0
        |         THEN ' '||chr(2325)||chr(2381)||chr(8205)||chr(2359) ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN ' '||chr(65320)||chr(65321)||chr(65281)||chr(12288)||chr(19990)||chr(30028) ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' zap'||chr(8204)||'zip' ELSE '' END
        |      AS text
        |  FROM documents),
        |flags AS (
        |  SELECT doc_id, text,
        |    regexp_matches(text, '@JOINRE@') AS j,
        |    regexp_matches(text, '@CJKRE@') AS c
        |  FROM dirty),
        |s1 AS (SELECT doc_id, j, c,
        |  regexp_replace(nfc_normalize(text), '\r\n|\r', chr(10), 'g') AS t FROM flags),
        |s2 AS (SELECT doc_id, j, c,
        |  CASE WHEN j THEN regexp_replace(t, '[\x{200B}\x{FEFF}\x{00AD}]', '', 'g')
        |       ELSE regexp_replace(t, '[\x{200B}-\x{200D}\x{FEFF}\x{00AD}]', '', 'g')
        |  END AS t FROM s1),
        |s3 AS (SELECT doc_id, j, c,
        |  CASE WHEN c THEN translate(t, '@FWLIT@', '@HWLIT@') ELSE t END AS t FROM s2)
        |SELECT doc_id,
        |  CASE WHEN j AND c THEN 'joining+cjk' WHEN j THEN 'joining'
        |       WHEN c THEN 'cjk' ELSE 'latin' END AS profile,
        |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}\x{007F}]', '', 'g'),
        |    '[ \t]+', ' ', 'g'),
        |    ' ?\n ?', chr(10), 'g'),
        |    '\n{3,}', chr(10)||chr(10), 'g')) AS norm_text
        |FROM s3
        |ORDER BY doc_id""".stripMargin
        .replace("@JOINRE@", graft.operators.TextAnalysis.JoiningScriptRe)
        .replace("@CJKRE@", graft.operators.TextAnalysis.CjkRe)
        .replace("@FWLIT@", graft.operators.TextAnalysis.FullwidthFrom.replace("'", "''"))
        .replace("@HWLIT@", graft.operators.TextAnalysis.HalfwidthTo.replace("'", "''")))


}
