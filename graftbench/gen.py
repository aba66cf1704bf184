#!/usr/bin/env python3
"""Seeded inputs and ground truth for the graft benchmark.

Every input a benchmark run feeds the library is made here from the
workload name and the seed: the same (workload, seed) gives byte-identical
files. Next to the inputs this writes `truth.json`, the ground truth the
JVM side checks every ETL table and query result against:

  * per table: the row count and an order-independent hash (the sum, mod
    2^64, of the first 60 bits of each row's MD5 over a canonical
    rendering; see `row_hash`);
  * per query: the expected result size and the hash of its id set.

The ground truth comes from `reference_rows`, a plain-Python re-derivation
of the ETL's routing law (meta, the seven claim tables, qualifiers,
statements, references, sitelinks, aliases) that shares no code with the
library. `test_bench.py` cross-checks it against DuckDB SQL over the same
dump.

Entities are built with the snak constructors of tools/gen_minidump.py
(imported, not copied), with their random streams re-seeded per workload.

Usage: python3 graftbench/gen.py <workload> <seed> <out_dir> [--scale F]
"""
import argparse
import calendar
import hashlib
import json
import os
import random
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "..", "tools"))
import gen_minidump as g  # noqa: E402  (snak constructors, by import)

WORKLOADS = ("query_mix", "refresh_mix")

# Input sizes at scale 1.0. A run's inputs are a few MB: the library's
# per-call cost at this size is job scheduling, the unit to optimise; sizes are also recorded against Spark storage memory.
QUERY_ENTITIES = 3000       # query_mix: a ~5 MB full-surface dump
QUERY_BLOCKS = 40           # blocks of 20 queries (a run cycles through them)
REFRESH_ENTITIES = 2000     # refresh_mix base tables
REFRESH_BATCHES = 24        # changesets available to one run
REFRESH_BATCH_PUTS = 60     # revisions per changeset (plus deletes/new)

PROPERTY_OFFSET = 1_000_000_000
LEXEME_OFFSET = 2_000_000_000
SENSE_OFFSET = 10_000_000_000
SUB_ID_FACTOR = 100_000_000_000

TABLES8 = ("meta", "string", "entity", "coordinates", "quantity", "time",
           "none", "unknown")
TABLES13 = TABLES8 + ("qualifiers", "statements", "sitelinks", "aliases",
                      "references")
VALUE_COLS = ("string", "entity_id", "latitude", "longitude",
              "coord_precision", "globe_id", "amount", "lower_bound",
              "upper_bound", "unit_id", "time", "time_precision")
MASK64 = (1 << 64) - 1


# ---------------------------------------------------------------- hashing

class Ts(int):
    """A timestamp column value, held as epoch seconds (UTC)."""


def render(v):
    """Canonical text of one column value; the JVM side renders the same
    way (`Check.render`): doubles as round(x * 1e6), timestamps as epoch
    seconds, null as \\N."""
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return str(int(round(v * 1e6)))
    return str(v)


def row_hash(values):
    text = "|".join(render(v) for v in values)
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:15], 16)


class Digest:
    """Order-independent multiset digest: (row count, sum of row hashes)."""

    def __init__(self):
        self.n = 0
        self.h = 0

    def add(self, values, sign=1):
        self.n += sign
        self.h = (self.h + sign * row_hash(values)) & MASK64

    def out(self):
        return {"n": self.n, "hash": str(self.h)}


def id_set_digest(ids):
    d = Digest()
    for i in sorted(set(ids)):
        d.add((i,))
    return d.out()


# ---------------------------------------------------------------- id codec

_ID = re.compile(r"^([QqPpLl])(\d+)$")
_SUB = re.compile(r"^[Ll](\d+)-([FfSs])(\d+)$")


def encode(text):
    """Wikidata id text -> int64, None when malformed (IdCodec's law)."""
    if text is None:
        return None
    m = _ID.match(text)
    if m:
        n = int(m.group(2))
        return n + {"q": 0, "p": PROPERTY_OFFSET,
                    "l": LEXEME_OFFSET}[m.group(1).lower()]
    m = _SUB.match(text)
    if m:
        base = int(m.group(1)) + LEXEME_OFFSET + int(m.group(3)) * SUB_ID_FACTOR
        return base + (SENSE_OFFSET if m.group(2) in "Ss" else 0)
    return None


def uri_id(uri):
    return None if uri is None else encode(uri.split("/")[-1])


def signed_num(s):
    if s is None:
        return None
    try:
        return float(re.sub(r"^\+", "", s))
    except ValueError:
        return None


def wikidata_time(s):
    if s is None:
        return None
    t = re.sub(r"^\+", "", s)
    t = t.replace("-00-", "-01-", 1)
    t = t.replace("-00T", "-01T", 1)
    m = re.match(r"^(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})Z$", t)
    if not m:
        return None
    return Ts(calendar.timegm(tuple(int(x) for x in m.groups())))


def _wide(value):
    return value if isinstance(value, dict) else {}


def _float(v):
    return None if v is None else float(v)


# ------------------------------------------------------- reference ETL law

def snak_kind(snak):
    """The flat 7-way routing kind of one snak (None: routed nowhere)."""
    st = snak.get("snaktype")
    if st == "novalue":
        return "none"
    if st == "somevalue":
        return "unknown"
    if st != "value":
        return None
    dv = snak.get("datavalue") or {}
    vt, v = dv.get("type"), dv.get("value")
    if vt == "string":
        return "string"
    if vt == "monolingualtext":
        return "string" if _wide(v).get("text") is not None else "none"
    return {"wikibase-entityid": "entity", "globecoordinate": "coordinates",
            "quantity": "quantity", "time": "time"}.get(vt)


def flat_values(snak, kind):
    """The 12 typed columns of a qualifier/reference row."""
    dv = snak.get("datavalue") or {}
    v = dv.get("value")
    w = _wide(v)
    out = dict.fromkeys(VALUE_COLS)
    if kind == "string":
        out["string"] = w.get("text") if w.get("text") is not None else (
            v if isinstance(v, str) else None)
    elif kind == "entity":
        out["entity_id"] = encode(w.get("id"))
    elif kind == "coordinates":
        out["latitude"] = _float(w.get("latitude"))
        out["longitude"] = _float(w.get("longitude"))
        p = w.get("precision")
        out["coord_precision"] = 0.0 if p is None else float(p)
        gid = uri_id(w.get("globe"))
        out["globe_id"] = 0 if gid is None else gid
    elif kind == "quantity":
        out["amount"] = signed_num(w.get("amount"))
        out["lower_bound"] = signed_num(w.get("lowerBound"))
        out["upper_bound"] = signed_num(w.get("upperBound"))
        out["unit_id"] = None if w.get("unit") == "1" else uri_id(w.get("unit"))
    elif kind == "time":
        out["time"] = wikidata_time(w.get("time"))
        p = w.get("precision")
        out["time_precision"] = 0 if p is None else int(p)
    return tuple(out[c] for c in VALUE_COLS)


def main_rows(eid, pid, snak):
    """(table, row) pairs of one surviving mainsnak in the 7 claim tables."""
    st = snak.get("snaktype")
    if st == "novalue":
        return [("none", (eid, pid))]
    if st == "somevalue":
        return [("unknown", (eid, pid))]
    if st != "value":
        return []
    dv = snak.get("datavalue") or {}
    vt, v = dv.get("type"), dv.get("value")
    w = _wide(v)
    if vt == "string":
        s = v if isinstance(v, str) else None
        return [] if s is None else [("string", (eid, pid, s))]
    if vt == "monolingualtext":
        if w.get("text") is None:
            return [("none", (eid, pid))]
        return [("string", (eid, pid, w["text"]))]
    if vt == "wikibase-entityid":
        t = encode(w.get("id"))
        return [] if t is None else [("entity", (eid, pid, t))]
    if vt == "globecoordinate":
        p = w.get("precision")
        gid = uri_id(w.get("globe"))
        return [("coordinates", (eid, pid, _float(w.get("latitude")),
                                 _float(w.get("longitude")),
                                 0.0 if p is None else float(p),
                                 0 if gid is None else gid))]
    if vt == "quantity":
        unit = None if w.get("unit") == "1" else uri_id(w.get("unit"))
        return [("quantity", (eid, pid, signed_num(w.get("amount")),
                              signed_num(w.get("lowerBound")),
                              signed_num(w.get("upperBound")), unit))]
    if vt == "time":
        p = w.get("precision")
        return [("time", (eid, pid, wikidata_time(w.get("time")),
                          0 if p is None else int(p)))]
    return []


def reference_rows(ent, full=True):
    """Every output row of one parsed entity, as {table: [row, ...]}.

    `full=False` gives the reference's 8 tables only (what
    `WikidataEtl.run` and `IncrementalEtl.applyCommit` produce)."""
    out = {t: [] for t in (TABLES13 if full else TABLES8)}
    eid = encode(ent.get("id"))
    if eid is None:
        return out
    label = ((ent.get("labels") or {}).get("en") or {}).get("value")
    desc = ((ent.get("descriptions") or {}).get("en") or {}).get("value")
    out["meta"].append((eid, label, desc))
    for pid_text, stmts in (ent.get("claims") or {}).items():
        pid = encode(pid_text)
        for st in stmts:
            if (st.get("rank") or "normal") == "deprecated":
                continue
            snak = st.get("mainsnak") or {}
            for table, row in main_rows(eid, pid, snak):
                out[table].append(row)
            if not full:
                continue
            cid = st.get("id")
            dv = snak.get("datavalue") or {}
            if snak.get("snaktype") == "value" and \
                    dv.get("type") == "wikibase-entityid":
                t = encode(_wide(dv.get("value")).get("id"))
                if t is not None:
                    out["statements"].append((eid, pid, cid, t))
            for qpid_text, qsnaks in (st.get("qualifiers") or {}).items():
                for q in qsnaks:
                    kind = snak_kind(q)
                    vals = flat_values(q, kind) if kind else None
                    if kind is None or (kind == "entity" and vals[1] is None):
                        continue
                    out["qualifiers"].append(
                        (eid, pid, cid, encode(qpid_text), kind) + vals)
            for idx, ref in enumerate(st.get("references") or []):
                for rpid_text, rsnaks in (ref.get("snaks") or {}).items():
                    for q in rsnaks:
                        kind = snak_kind(q)
                        vals = flat_values(q, kind) if kind else None
                        if kind is None or (kind == "entity" and vals[1] is None):
                            continue
                        out["references"].append(
                            (eid, pid, cid, idx, encode(rpid_text), kind) + vals)
    if full:
        for site, sl in (ent.get("sitelinks") or {}).items():
            if (sl or {}).get("title") is not None:
                out["sitelinks"].append((eid, site, sl["title"]))
        for lang, vals in (ent.get("aliases") or {}).items():
            for a in vals or []:
                if (a or {}).get("value") is not None:
                    out["aliases"].append((eid, lang, a["value"]))
    return out


def digests_of(per_entity_rows, tables):
    ds = {t: Digest() for t in tables}
    for rows in per_entity_rows:
        for t, rs in rows.items():
            for r in rs:
                ds[t].add(r)
    return {t: d.out() for t, d in ds.items()}


# ------------------------------------------------------------ dump writing

def write_dump(path, entities, rng, junk_every=97):
    """Dump framing: `[`, one entity per line with a trailing comma, `]`,
    plus malformed and blank lines a tolerant reader skips. Returns the
    number of lines written."""
    lines = ["["]
    for i, ent in enumerate(entities):
        lines.append(json.dumps(ent, separators=(",", ":")) + ",")
        if i % junk_every == junk_every // 2:
            lines.append(rng.choice(["this is not json,", "{\"id\": ,",
                                     "", "   "]))
    lines.append("]")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return len(lines)


def reseed_minidump(seed):
    """Point gen_minidump's module-level random streams at this seed."""
    for k, name in enumerate(("rng", "qrng", "rrng", "trng", "srng", "frng")):
        setattr(g, name, random.Random(seed * 1009 + k))


# -------------------------------------------------------- skewed entities

WORDS = g.WORDS
P_INSTANCE, P_SUBCLASS, P_COLOR = 31, 279, 462
N_CLASSES = 64
N_VALUES = 200       # value entities targeted by skewed entity claims
N_PROPS = 40         # entity-valued properties besides P31/P279/P462
PROP_BASE = 1000


def zipf_cum(n, s):
    cum, tot = [], 0.0
    for k in range(1, n + 1):
        tot += 1.0 / k ** s
        cum.append(tot)
    return cum


class World:
    """The shape every query_mix/refresh_mix entity is drawn from: a P279
    class tree about 6 deep, P31 instance-of hubs with Zipf popularity,
    Zipf-skewed (property, value) claims and planted red fruits."""

    def __init__(self, seed, n):
        self.rng = random.Random(seed)
        self.n = n
        r = self.rng
        self.parent = {1: None}
        depth = {1: 0}
        for c in range(2, N_CLASSES + 1):
            cands = [k for k in depth if depth[k] < 6]
            weights = [1 + depth[k] * 2 for k in cands]
            p = r.choices(cands, weights=weights)[0]
            self.parent[c] = p
            depth[c] = depth[p] + 1
        self.depth = depth
        # hub order: class popularity rank -> class id; the top hub is
        # the "fruit" class of the planted conjunction
        order = list(range(2, N_CLASSES + 1))
        r.shuffle(order)
        self.hubs = order
        self.fruit = order[0]
        self.red = N_CLASSES + 1           # a value entity: "red"
        self.class_cum = zipf_cum(len(order), 0.9)
        self.value_cum = zipf_cum(N_VALUES, 1.05)
        self.prop_cum = zipf_cum(N_PROPS, 0.9)

    def klass(self, r):
        return r.choices(self.hubs, cum_weights=self.class_cum)[0]

    def value(self, r):
        return N_CLASSES + 1 + r.choices(range(N_VALUES),
                                         cum_weights=self.value_cum)[0]

    def prop(self, r):
        return PROP_BASE + r.choices(range(N_PROPS), cum_weights=self.prop_cum)[0]

    def entity(self, num, r, links=True):
        """Entity Q<num> (classes are Q1..Q64, value entities follow)."""
        def ent_snak(pid, target):
            return {"snaktype": "value", "property": f"P{pid}",
                    "datavalue": {"value": {"entity-type": "item",
                                            "id": f"Q{target}"},
                                  "type": "wikibase-entityid"}}

        def stmt(snak, rank=None):
            rank = rank or r.choices(["normal", "preferred", "deprecated"],
                                     weights=[85, 10, 5])[0]
            return {"mainsnak": snak, "type": "statement", "rank": rank}

        ent = {"id": f"Q{num}", "type": "item", "labels": {},
               "descriptions": {}, "claims": {}}
        if r.random() < 0.85:
            ent["labels"]["en"] = {"language": "en",
                                   "value": r.choice(WORDS) + str(r.randrange(300))}
        if r.random() < 0.5:
            ent["descriptions"]["en"] = {"language": "en",
                                         "value": r.choice(WORDS) + " " + r.choice(WORDS)}
        if r.random() < 0.2:
            ent["labels"]["de"] = {"language": "de", "value": r.choice(WORDS)}
        claims = ent["claims"]

        def add(pid, s):
            claims.setdefault(f"P{pid}", []).append(s)

        if num <= N_CLASSES:
            if self.parent[num] is not None:
                add(P_SUBCLASS, stmt(ent_snak(P_SUBCLASS, self.parent[num]), "normal"))
        else:
            k = self.klass(r)
            add(P_INSTANCE, stmt(ent_snak(P_INSTANCE, k), "normal"))
            if r.random() < 0.1:
                add(P_INSTANCE, stmt(ent_snak(P_INSTANCE, self.klass(r))))
            if k == self.fruit and r.random() < 0.5:
                add(P_COLOR, stmt(ent_snak(P_COLOR, self.red), "normal"))
            for _ in range(r.randrange(5)):
                pid = self.prop(r)
                add(pid, stmt(ent_snak(pid, self.value(r))))
            for _ in range(r.randrange(3)):
                pid = r.randrange(2000, 2100)
                add(pid, stmt(g.qual_snak(pid, r)))
        if links:
            g.add_links(ent)
            g.add_qualifiers(ent, ent["id"])
            g.add_references(ent)
        return ent


# -------------------------------------------------------------- query_mix

class Index:
    """Query answers over the reference rows of a set of entities."""

    def __init__(self, entities, full=True):
        self.rows = {}
        for ent in entities:
            self.rows[encode(ent["id"])] = reference_rows(ent, full)
        self.build()

    def build(self):
        self.labels, self.pairs, self.by_pair = {}, {}, {}
        self.names = {}
        self.sourced_pairs = {}
        self.subclass_of, self.instance_of = {}, {}
        for eid, rows in self.rows.items():
            for (_, label, _) in rows["meta"]:
                if label is not None:
                    self.labels.setdefault(label, set()).add(eid)
                    self.names.setdefault(label, set()).add(eid)
            for (_, pid, t) in rows["entity"]:
                self.by_pair.setdefault((pid, t), set()).add(eid)
                if pid == P_SUBCLASS + PROPERTY_OFFSET:
                    self.subclass_of.setdefault(eid, set()).add(t)
                if pid == P_INSTANCE + PROPERTY_OFFSET:
                    self.instance_of.setdefault(eid, set()).add(t)
            for (_, _, alias) in rows.get("aliases", []):
                self.names.setdefault(alias, set()).add(eid)
            cited = {r[2] for r in rows.get("references", [])}
            for (_, pid, cid, t) in rows.get("statements", []):
                if cid in cited:
                    self.sourced_pairs.setdefault((pid, t), set()).add(eid)
        self.meta_ids = set(self.rows)
        self._variants = None
        self._anc = {}

    # -- lookup
    def by_label(self, label):
        return id_set_digest(self.labels.get(label, ()))

    def by_id(self, text):
        e = encode(text)
        return id_set_digest([e] if e in self.meta_ids else [])

    def claims_of(self, eid):
        d = Digest()
        rows = self.rows.get(eid)
        if rows:
            for t in ("string", "entity", "coordinates", "quantity", "time",
                      "none", "unknown"):
                for r in rows[t]:
                    d.add((r[0], r[1], t))
        return d.out()

    # -- search
    def with_entity_claim(self, pid, t):
        return id_set_digest(self.by_pair.get((pid, t), ()))

    def conjunctive(self, conj, sourced=False):
        src = self.sourced_pairs if sourced else self.by_pair
        ids = set(self.meta_ids)
        for c in conj:
            ids &= src.get(tuple(c), set())
        return id_set_digest(ids)

    # -- path
    def _ancestors(self, c):
        if c not in self._anc:
            seen, todo = set(), list(self.subclass_of.get(c, ()))
            while todo:
                x = todo.pop()
                if x not in seen:
                    seen.add(x)
                    todo.extend(self.subclass_of.get(x, ()))
            self._anc[c] = seen
        return self._anc[c]

    def subclasses(self, c):
        """pathClosure(P279), reflexive, filtered to dst = c."""
        nodes = set(self.subclass_of) | {p for ps in self.subclass_of.values() for p in ps}
        out = {x for x in nodes if x != c and c in self._ancestors(x)}
        if c in nodes:
            out.add(c)
        return out

    def instances(self, c):
        """path("P31/P279*") filtered to dst = c."""
        out = set()
        for x, ks in self.instance_of.items():
            for k in ks:
                if k == c or c in self._ancestors(k):
                    out.add(x)
                    break
        return out

    # -- fuzzy
    def _variant_index(self):
        if self._variants is None:
            self._variants = {}
            for name in self.names:
                for v in deletion_variants(name):
                    self._variants.setdefault(v, set()).add(name)
        return self._variants

    def fuzzy(self, term, any_name):
        idx = self._variant_index()
        cands = set()
        for v in deletion_variants(term):
            cands |= idx.get(v, set())
        ids = set()
        for name in cands:
            if levenshtein(name, term) <= 1:
                if any_name:
                    ids |= self.names[name]
                else:
                    ids |= self.labels.get(name, set())
        return id_set_digest(ids)


def deletion_variants(s):
    return {s} | {s[:i] + s[i + 1:] for i in range(len(s))}


def levenshtein(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def typo(r, s):
    """A one-edit variant of s (substitute, delete or insert)."""
    i = r.randrange(len(s))
    k = r.randrange(3)
    c = r.choice("abcdefghijklmnopqrstuvwxyz0123456789")
    if k == 0:
        return s[:i] + c + s[i + 1:]
    if k == 1 and len(s) > 2:
        return s[:i] + s[i + 1:]
    return s[:i] + c + s[i:]


# One block of the query mix: 10 lookup, 6 search, 2 path, 2 fuzzy (the
# 50/30/10/10 class mix), every block the same operations in a seeded
# order, so block times compare across blocks and seeds.
BLOCK = (["byLabel"] * 3 + ["byLabelMiss"] + ["byId"] * 3 + ["claimsOf"] * 3 +
         ["withEntityClaim"] * 2 + ["redFruits", "conjunctiveEntitySearch"] +
         ["sourced2", "sourced4"] + ["path", "pathClosure"] +
         ["byLabelFuzzy", "byAnyNameFuzzy"])


def make_blocks(world, idx, ents, r, count):
    """`count` blocks of queries with expected answers. Popular entities
    are drawn Zipf over a seeded permutation of the entities. Conjunctive
    searches take 2, 3 or 4 conjuncts (fixed per slot) from a popular
    entity's own claims, sometimes swapping one for another entity's (often
    empty), or are the planted red fruits (a hub-sized answer)."""
    ids = [encode(e["id"]) for e in ents]
    perm = ids[:]
    r.shuffle(perm)
    pop_cum = zipf_cum(len(perm), 1.0)
    labels = sorted(idx.labels)
    names = sorted(idx.names)
    n = len(ents)
    # path targets: classes whose instance set is at most ~15% of entities
    targets = [c for c in world.hubs if len(idx.instances(c)) <= 0.15 * n] or world.hubs

    def popular():
        return r.choices(perm, cum_weights=pop_cum)[0]

    def entity_pairs(eid):
        return sorted({(p, t) for (_, p, t) in idx.rows[eid]["entity"]})

    def sourced_pairs(eid):
        cited = {row[2] for row in idx.rows[eid]["references"]}
        return sorted({(p, t) for (_, p, cid, t) in idx.rows[eid]["statements"]
                       if cid in cited})

    def conj_from(pairs_of, k):
        """k conjuncts of one popular entity's own pairs (fewer only when
        no entity drawn in 200 tries has k)."""
        best = []
        for _ in range(200):
            pairs = pairs_of(popular())
            if len(pairs) > len(best):
                best = pairs
            if len(best) >= k:
                break
        return [list(p) for p in r.sample(best, min(k, len(best)))]

    def make(op):
        if op in ("byLabel", "byLabelMiss"):
            lab = ("zz" + r.choice(WORDS) + str(r.randrange(1000)) if op == "byLabelMiss"
                   else idx.rows[popular()]["meta"][0][1] or r.choice(labels))
            return "lookup", "byLabel", [lab], idx.by_label(lab)
        if op == "byId":
            text = f"Q{popular()}"
            return "lookup", op, [text], idx.by_id(text)
        if op == "claimsOf":
            e = popular()
            return "lookup", op, [e], idx.claims_of(e)
        if op == "withEntityClaim":
            p, t = r.choice(entity_pairs(popular()) or
                            [(P_INSTANCE + PROPERTY_OFFSET, world.fruit)])
            return "search", op, [p, t], idx.with_entity_claim(p, t)
        if op == "redFruits":
            conj = [[P_INSTANCE + PROPERTY_OFFSET, world.fruit],
                    [P_COLOR + PROPERTY_OFFSET, world.red]]
            return "search", "conjunctiveEntitySearch", [conj], idx.conjunctive(conj)
        if op == "conjunctiveEntitySearch":
            conj = conj_from(entity_pairs, 3)
            if r.random() < 0.3:   # one conjunct of another entity: often empty
                conj[-1] = list(r.choice(entity_pairs(popular()) or [conj[0]]))
            return "search", op, [conj], idx.conjunctive(conj)
        if op in ("sourced2", "sourced4"):
            conj = conj_from(sourced_pairs, int(op[-1]))
            return ("search", "conjunctiveSourcedSearch", [conj],
                    idx.conjunctive(conj, sourced=True))
        if op == "path":
            c = r.choice(targets)
            return "path", op, ["P31/P279*", c], id_set_digest(idx.instances(c))
        if op == "pathClosure":
            c = r.randint(1, N_CLASSES)
            return ("path", op, [P_SUBCLASS + PROPERTY_OFFSET, c],
                    id_set_digest(idx.subclasses(c)))
        pool = labels if op == "byLabelFuzzy" else names
        term = typo(r, r.choice(pool))
        return "fuzzy", op, [term], idx.fuzzy(term, any_name=op == "byAnyNameFuzzy")

    blocks = []
    for _ in range(count):
        ops = BLOCK[:]
        r.shuffle(ops)
        block = []
        for op in ops:
            cls, name, args, expect = make(op)
            block.append({"cls": cls, "op": name, "args": args, **expect})
        blocks.append(block)
    return blocks


def gen_query(seed, out, scale):
    reseed_minidump(seed * 3 + 2)
    n = max(400, int(QUERY_ENTITIES * scale))
    world = World(seed, n)
    r = random.Random(seed * 7 + 5)
    ents = [world.entity(num, r) for num in range(1, n + 1)]
    path = os.path.join(out, "dump.json")
    lines = write_dump(path, ents, r)
    idx = Index(ents)
    blocks = make_blocks(world, idx, ents, random.Random(seed * 11 + 3),
                         max(4, int(QUERY_BLOCKS * min(1.0, scale * 4))))
    return {"workload": "query_mix", "seed": seed,
            "dump": {"path": "dump.json", "bytes": os.path.getsize(path),
                     "lines": lines, "entities": n,
                     "tables": digests_of(idx.rows.values(), TABLES13)},
            "blocks": blocks,
            "selectivity": selectivity([q for b in blocks for q in b], n)}


def selectivity(queries, n):
    """Result-size range of the conjunctive and path queries, as a share
    of the entity count."""
    out = {}
    for q in queries:
        if q["op"] in ("conjunctiveEntitySearch", "conjunctiveSourcedSearch",
                       "path", "pathClosure"):
            s = out.setdefault(q["op"], {"min": 1.0, "max": 0.0, "empty": 0,
                                         "count": 0})
            f = q["n"] / n
            s["min"], s["max"] = min(s["min"], f), max(s["max"], f)
            s["empty"] += q["n"] == 0
            s["count"] += 1
    return out


# ------------------------------------------------------------ refresh_mix

def gen_refresh(seed, out, scale):
    reseed_minidump(seed * 3 + 3)
    n = max(400, int(REFRESH_ENTITIES * scale))
    batches = max(3, int(REFRESH_BATCHES * min(1.0, scale * 4)))
    world = World(seed, n)
    r = random.Random(seed * 13 + 1)
    base = [world.entity(num, r, links=False) for num in range(1, n + 1)]
    write_dump(os.path.join(out, "base.json"), base, r)

    state = {encode(e["id"]): e for e in base}
    idx = Index(base, full=False)
    digests = {t: Digest() for t in TABLES8}
    for rows in idx.rows.values():
        for t, rs in rows.items():
            for row in rs:
                digests[t].add(row)

    # the fixed read set: lookups and searches over entities that every
    # changeset rewrites (so each commit changes some answers)
    hot = sorted(r.sample(range(N_CLASSES + N_VALUES + 1, n + 1), 4))
    hot_label = (base[hot[0] - 1]["labels"].get("en") or {}).get("value") or "alpha1"
    reads = [
        {"cls": "lookup", "op": "byLabel", "args": [hot_label]},
        {"cls": "lookup", "op": "byId", "args": [f"Q{hot[1]}"]},
        {"cls": "lookup", "op": "claimsOf", "args": [hot[2]]},
        {"cls": "search", "op": "withEntityClaim",
         "args": [P_INSTANCE + PROPERTY_OFFSET, world.fruit]},
        {"cls": "search", "op": "conjunctiveEntitySearch",
         "args": [[[P_INSTANCE + PROPERTY_OFFSET, world.fruit],
                   [P_COLOR + PROPERTY_OFFSET, world.red]]]},
        {"cls": "search", "op": "withEntityClaim",
         "args": [P_INSTANCE + PROPERTY_OFFSET, world.hubs[1]]},
    ]

    def answers():
        out_ = []
        for q in reads:
            a = q["args"]
            if q["op"] == "byLabel":
                out_.append(idx.by_label(a[0]))
            elif q["op"] == "byId":
                out_.append(idx.by_id(a[0]))
            elif q["op"] == "claimsOf":
                out_.append(idx.claims_of(a[0]))
            elif q["op"] == "withEntityClaim":
                out_.append(idx.with_entity_claim(a[0], a[1]))
            else:
                out_.append(idx.conjunctive(a[0]))
        return out_

    truth = {"workload": "refresh_mix", "seed": seed,
             "base": {"path": "base.json", "bytes": os.path.getsize(
                 os.path.join(out, "base.json")), "entities": n,
                      "tables": {t: d.out() for t, d in digests.items()}},
             "reads": reads, "base_answers": answers(), "batches": []}

    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    revid = 1000
    next_new = n + 1
    deleted = set()
    for b in range(batches):
        recs = []   # records in file order
        live = [k for k in state]
        touched = set(hot[:3])
        touched |= set(r.sample(live, min(len(live), REFRESH_BATCH_PUTS)))
        for num in sorted(touched):
            ent = world.entity(num, r, links=False)
            revid += 2
            rec = dict(ent, lastrevid=revid)
            if r.random() < 0.15:      # a stale revision, later in the file
                stale = dict(world.entity(num, r, links=False), lastrevid=revid - 1)
                recs += [rec, stale]
            else:
                recs.append(rec)
        for num in r.sample(live, min(len(live), 8)):
            if num in touched:
                continue
            revid += 2
            recs.append({"id": f"Q{num}", "lastrevid": revid, "deleted": True})
            if r.random() < 0.3:       # a stale put after the delete
                recs.append(dict(world.entity(num, r, links=False),
                                 lastrevid=revid - 1))
        for num in sorted(deleted)[:3]:  # recreate earlier deletes
            revid += 2
            recs.append({"id": f"Q{num}", "lastrevid": revid, "deleted": True})
            recs.append(dict(world.entity(num, r, links=False), lastrevid=revid + 1))
            revid += 1
        for _ in range(6):             # brand-new entities
            ent = world.entity(next_new, r, links=False)
            revid += 2
            recs.append(dict(ent, lastrevid=revid))
            next_new += 1
        revid += 2                     # delete of an id never seen: a no-op
        recs.append({"id": f"Q{10_000_000 + b}", "lastrevid": revid, "deleted": True})
        r.shuffle(recs)

        # last writer wins by lastrevid; a delete wins a tie
        win = {}
        for rec in recs:
            k = encode(rec["id"])
            key = (rec["lastrevid"], 1 if rec.get("deleted") else 0)
            if k not in win or key > win[k][0]:
                win[k] = (key, rec)
        for k, (_, rec) in win.items():
            old = state.pop(k, None)
            if old is not None:
                for t, rows in idx.rows.pop(k).items():
                    for row in rows:
                        digests[t].add(row, -1)
            if rec.get("deleted"):
                if old is not None:
                    deleted.add(k)
                continue
            deleted.discard(k)
            ent = {f: rec[f] for f in ("id", "labels", "descriptions", "claims")
                   if f in rec}
            state[k] = ent
            idx.rows[k] = reference_rows(ent, full=False)
            for t, rows in idx.rows[k].items():
                for row in rows:
                    digests[t].add(row)
        idx.build()

        name = f"batches/b{b:03d}.json"
        path = os.path.join(out, name)
        lines = ["["] + [json.dumps(x, separators=(",", ":")) + "," for x in recs]
        lines.insert(len(lines) // 2, "not json at all,")
        lines.append("")
        lines.append("]")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        truth["batches"].append({
            "path": name, "bytes": os.path.getsize(path),
            "tables": {t: d.out() for t, d in digests.items()},
            "answers": answers()})
    return truth


def generate(workload, seed, out, scale=1.0):
    os.makedirs(out, exist_ok=True)
    fn = {"query_mix": gen_query, "refresh_mix": gen_refresh}[workload]
    truth = fn(seed, out, scale)
    truth["scale"] = scale
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workload", choices=WORKLOADS)
    ap.add_argument("seed", type=int)
    ap.add_argument("out")
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    t = generate(a.workload, a.seed, a.out, a.scale)
    print(json.dumps({k: v for k, v in t.items()
                      if k in ("workload", "seed", "selectivity")}))


if __name__ == "__main__":
    main()
