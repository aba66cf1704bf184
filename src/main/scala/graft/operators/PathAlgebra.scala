package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Composed property-path expressions — the `wdt:P31/wdt:P279*` query shape
  * from the reference's own SPARQL comparison (reference README.md:146-152).
  * W20 ([[PropertyPath]]) closes ONE property's edges; real Wikidata
  * questions compose: "instances of any subclass of X" is a sequence of a
  * single step (P31) with a reflexive closure (P279*), and alternation /
  * inverse steps appear as soon as properties model both directions
  * (child ^P279 parent). This is the SPARQL 1.1 property-path algebra over
  * the claim table, evaluated as DataFrame set operations:
  *
  *   P31            one property's (id, entity_id) edges
  *   ^p             inverse (swap src/dst)
  *   a/b            sequence (relational composition — join on the midpoint)
  *   a|b            alternation (union)
  *   p+             >= 1-hop closure (path doubling, O(log diameter) rounds)
  *   p*             reflexive closure,  p?   zero-or-one
  *
  * Zero-hop semantics: `*`/`?` in SEQUENCE position is rewritten exactly —
  * a/b* = a/b+ ∪ a and a* / b = a+/b ∪ b — so no identity-domain guess is ever
  * needed where it matters. A TOP-LEVEL (or alternation-branch) `*`/`?`
  * takes its zero-hop pairs over the nodes of its own sub-path's edge set,
  * which is how `QueryApi.pathClosure` (`p*` of one property) is defined
  * (SPARQL evaluates zero-hop over all graph terms; over a claims TABLE the
  * sub-path's node set is the meaningful universe, and the sequence rewrite
  * covers the composed case users actually ask).
  *
  * Scale shape: every operator is a set-operation over (src, dst) pair
  * frames keyed on node ids — sequence shuffles edge volume on the join
  * key, closure is the W20 doubling (log-round, checkpointed), and nothing
  * ever materializes per-path rows (a path algebra that tracked the paths
  * themselves would be exponential). Filter-to-property happens at the
  * leaves, so the doubling always runs on ontology-sized subgraphs, never
  * the full 100 TB claim set. Both `p+` and `p*` go through one closure of
  * `p` (the `Plus` key of eval's `closures` hook): QueryApi memoizes it per
  * instance, so `P279*`, `P31/P279*` and `pathClosure(P279)` compute the
  * P279 closure once and reuse it.
  */
object PathAlgebra {

  sealed trait PathExpr {
    def /(other: PathExpr): PathExpr = Sequence(this, other)
    def |(other: PathExpr): PathExpr = Alternative(this, other)
    def star: PathExpr = Star(this)
    def plus: PathExpr = Plus(this)
    def opt: PathExpr = Optional(this)
    def inv: PathExpr = Inverse(this)
  }
  /** One property's edge set. */
  final case class Prop(pid: Long) extends PathExpr
  final case class Inverse(p: PathExpr) extends PathExpr
  final case class Sequence(a: PathExpr, b: PathExpr) extends PathExpr
  final case class Alternative(a: PathExpr, b: PathExpr) extends PathExpr
  /** >= 1 hops. */
  final case class Plus(p: PathExpr) extends PathExpr
  /** >= 0 hops (reflexive). */
  final case class Star(p: PathExpr) extends PathExpr
  /** 0 or 1 hops. */
  final case class Optional(p: PathExpr) extends PathExpr
  /** W30: SPARQL negated property set `!(P1|^P2|…)` — "any claim EXCEPT
    * these": forward edges whose property is not in `fwd`, unioned (per the
    * SPARQL 1.1 translation) with REVERSED edges whose property is not in
    * `inv`; a direction's leg exists only if it lists at least one property
    * (`!P1` matches no inverse edge, `!(^P2)` no forward edge). The one
    * algebra member that cannot filter to a property at the leaf — it needs
    * the (pid, src, dst) claim frame, supplied via `eval`'s `allEdges`. */
  final case class NegatedSet(fwd: Seq[Long], invProps: Seq[Long]) extends PathExpr

  /** Parse a SPARQL-style path string: `(P31|P101)/P279*`, `^P279+`, `P1?`,
    * `!(P31|^P279)`. Grammar (standard precedence — postfix binds tightest,
    * then `^`/`!`, then `/`, then `|`):
    *   alt  := seq ('|' seq)*
    *   seq  := step ('/' step)*
    *   step := ('^' atom | '!' nset | atom) ('*' | '+' | '?')?
    *   atom := 'P' digits | '(' alt ')'
    *   nset := '^'? 'P' digits | '(' '^'? 'P' digits ('|' '^'? 'P' digits)* ')'
    */
  def parse(s: String): PathExpr = {
    val in = s.replaceAll("\\s+", "")
    var pos = 0
    def peek: Char = if (pos < in.length) in(pos) else '\u0000'
    def expect(c: Char): Unit = {
      require(peek == c, s"path parse error at $pos in '$s': expected '$c', got '$peek'")
      pos += 1
    }
    def atom(): PathExpr = peek match {
      case '(' =>
        pos += 1
        val e = alt()
        expect(')')
        e
      case 'P' | 'p' =>
        pos += 1
        val start = pos
        while (peek.isDigit) pos += 1
        require(pos > start, s"path parse error at $pos in '$s': expected property number")
        Prop(in.substring(start, pos).toLong)
      case c => throw new IllegalArgumentException(
        s"path parse error at $pos in '$s': expected 'P<num>' or '(', got '$c'")
    }
    def propNum(): Long = {
      require(peek == 'P' || peek == 'p',
        s"path parse error at $pos in '$s': expected 'P<num>'")
      pos += 1
      val start = pos
      while (peek.isDigit) pos += 1
      require(pos > start, s"path parse error at $pos in '$s': expected property number")
      in.substring(start, pos).toLong
    }
    def nsetItem(): (Boolean, Long) = {
      val invFlag = peek == '^'
      if (invFlag) pos += 1
      (invFlag, propNum())
    }
    def nset(): PathExpr = {
      val items =
        if (peek == '(') {
          pos += 1
          val buf = scala.collection.mutable.Buffer(nsetItem())
          while (peek == '|') { pos += 1; buf += nsetItem() }
          expect(')')
          buf.toSeq
        } else Seq(nsetItem())
      NegatedSet(items.collect { case (false, p) => p },
        items.collect { case (true, p) => p })
    }
    def step(): PathExpr = {
      val inverted = peek == '^'
      val negated = peek == '!'
      if (inverted || negated) pos += 1
      var e = if (negated) nset() else atom()
      if (inverted) e = Inverse(e)
      peek match {
        case '*' => pos += 1; Star(e)
        case '+' => pos += 1; Plus(e)
        case '?' => pos += 1; Optional(e)
        case _ => e
      }
    }
    def seq(): PathExpr = {
      var e = step()
      while (peek == '/') { pos += 1; e = Sequence(e, step()) }
      e
    }
    def alt(): PathExpr = {
      var e = seq()
      while (peek == '|') { pos += 1; e = Alternative(e, seq()) }
      e
    }
    val e = alt()
    require(pos == in.length, s"path parse error: trailing input at $pos in '$s'")
    e
  }

  /** What a materialized `p+` closure depends on besides its edges: the
    * `Plus` sub-expression (as passed to eval, so in the caller's id
    * space) and the doubling's settings. */
  final case class ClosureKey(expr: PathExpr, maxRounds: Int, reliable: Boolean)

  /** Evaluate to the (src, dst) pair frame. `edgesOf(pid)` supplies one
    * property's edges — first two columns are used as (src, dst); QueryApi
    * wires it to the claims entity table filtered by property_id.
    * `allEdges` supplies the FULL (pid, src, dst) claim frame, needed only
    * by negated property sets (the one leaf that can't filter to a
    * property); the filter `pid ∉ set` still reaches the scan.
    * `closures(key, build)` returns the checkpointed closure of every
    * `+`/`*` sub-expression; the default builds it each time, and a caller
    * whose edges never change (QueryApi) memoizes it by key, so a closure
    * is computed once and reused by every later expression containing it. */
  def eval(expr: PathExpr, edgesOf: Long => DataFrame,
      maxRounds: Int = 20, reliable: Boolean = false,
      allEdges: () => DataFrame = () => throw new IllegalArgumentException(
        "negated property sets need eval's allEdges — pass the (pid, src, dst) claim frame"),
      closures: (ClosureKey, () => DataFrame) => DataFrame = (_, build) => build())
      : DataFrame = {
    def plus(p: PathExpr, base: => DataFrame): DataFrame =
      closures(ClosureKey(Plus(p), maxRounds, reliable),
        () => PropertyPath.closure(base, maxRounds, reliable))
    def pairs(e: PathExpr): DataFrame = e match {
      case NegatedSet(fwd, invd) =>
        val df = allEdges()
        val Seq(cp, ca, cb) = df.columns.take(3).toSeq
        val base = df.select(col(cp).cast("long").as("pid"),
            col(ca).cast("long").as("src"), col(cb).cast("long").as("dst"))
          .filter(col("src").isNotNull && col("dst").isNotNull)
        val legs =
          (if (fwd.nonEmpty)
            Seq(base.filter(!col("pid").isin(fwd: _*)).select("src", "dst"))
          else Nil) ++
          (if (invd.nonEmpty)
            Seq(base.filter(!col("pid").isin(invd: _*))
              .select(col("dst").as("src"), col("src").as("dst")))
          else Nil)
        legs.reduce(_ unionByName _).distinct()
      case Prop(pid) =>
        val df = edgesOf(pid)
        val Seq(ca, cb) = df.columns.take(2).toSeq
        df.select(col(ca).cast("long").as("src"), col(cb).cast("long").as("dst"))
          .filter(col("src").isNotNull && col("dst").isNotNull)
      case Inverse(p) =>
        pairs(p).select(col("dst").as("src"), col("src").as("dst"))
      case Alternative(a, b) => pairs(a).unionByName(pairs(b)).distinct()
      // the exact zero-hop rewrites: no identity domain needed in sequence
      case Sequence(a, Star(b)) => pairs(Alternative(Sequence(a, Plus(b)), a))
      case Sequence(Star(a), b) => pairs(Alternative(Sequence(Plus(a), b), b))
      case Sequence(a, Optional(b)) => pairs(Alternative(Sequence(a, b), a))
      case Sequence(Optional(a), b) => pairs(Alternative(Sequence(a, b), b))
      case Sequence(a, b) =>
        pairs(a).as("x").join(pairs(b).as("y"), col("x.dst") === col("y.src"))
          .select(col("x.src").as("src"), col("y.dst").as("dst"))
          .distinct()
      case Plus(p) => plus(p, pairs(p))
      case Star(p) =>
        val base = pairs(p)
        plus(p, base).unionByName(identityOver(base)).distinct()
      case Optional(p) =>
        val base = pairs(p)
        base.unionByName(identityOver(base)).distinct()
    }
    pairs(expr)
  }

  /** Zero-hop (x, x) pairs over every node of `base` — the top-level
    * `*`/`?` domain (see class doc). */
  private def identityOver(base: DataFrame): DataFrame =
    base.select(col("src")).unionByName(base.select(col("dst").as("src")))
      .distinct()
      .select(col("src"), col("src").as("dst"))

  /** Rewrite every property number in the tree through `f` — the hook a
    * surface with its own id space uses to map the expression's human
    * numbers (P279 → 279) onto its stored ids (the wikidata surface
    * encodes to 1000000279). Covers Prop AND NegatedSet, whose pid lists
    * filter inside eval where a caller's edgesOf cannot intervene. */
  def mapPids(e: PathExpr, f: Long => Long): PathExpr = e match {
    case Prop(p)            => Prop(f(p))
    case NegatedSet(fw, iv) => NegatedSet(fw.map(f), iv.map(f))
    case Inverse(p)         => Inverse(mapPids(p, f))
    case Sequence(a, b)     => Sequence(mapPids(a, f), mapPids(b, f))
    case Alternative(a, b)  => Alternative(mapPids(a, f), mapPids(b, f))
    case Plus(p)            => Plus(mapPids(p, f))
    case Star(p)            => Star(mapPids(p, f))
    case Optional(p)        => Optional(mapPids(p, f))
  }

  /** Parse-and-evaluate convenience. */
  def eval(expr: String, edgesOf: Long => DataFrame): DataFrame =
    eval(parse(expr), edgesOf)

  /** Parse-and-evaluate with the full claim frame (negated sets allowed). */
  def eval(expr: String, edgesOf: Long => DataFrame,
      allEdges: () => DataFrame): DataFrame =
    eval(parse(expr), edgesOf, allEdges = allEdges)
}
