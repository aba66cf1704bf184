#!/usr/bin/env python3
"""The benchmark's own test.

1. Ground truth vs DuckDB: for small seeds, gen.py's ground truth (a
   plain-Python re-derivation of the ETL law) must match DuckDB 1.0 SQL
   reading the same generated files: every table's row count and hash,
   every query_mix answer, and the refresh_mix table state after the last
   changeset (last writer wins per changeset, then whole-entity replace).
2. A planted wrong expectation is caught: a short run with one expected
   answer corrupted reports correct=false and failed >= 1, and the same
   run without it reports correct=true. This part builds and runs the JVM
   (a few minutes); skip it with --no-jvm.

Run from the root of a graft checkout:  python3 graftbench/test_bench.py
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

import duckdb  # noqa: E402

SCALE = 0.08
NO_JVM = "--no-jvm" in sys.argv

MACROS = r"""
CREATE OR REPLACE MACRO enc(t) AS CASE
  WHEN regexp_matches(t, '^[Qq][0-9]+$') THEN CAST(substr(t, 2) AS BIGINT)
  WHEN regexp_matches(t, '^[Pp][0-9]+$') THEN CAST(substr(t, 2) AS BIGINT) + 1000000000
  WHEN regexp_matches(t, '^[Ll][0-9]+$') THEN CAST(substr(t, 2) AS BIGINT) + 2000000000
  WHEN regexp_matches(t, '^[Ll][0-9]+-[FfSs][0-9]+$') THEN
    CAST(regexp_extract(t, '^[Ll]([0-9]+)', 1) AS BIGINT) + 2000000000
    + CAST(regexp_extract(t, '-[FfSs]([0-9]+)$', 1) AS BIGINT) * 100000000000
    + CASE WHEN regexp_matches(t, '-[Ss]') THEN 10000000000 ELSE 0 END
END;
CREATE OR REPLACE MACRO uri(u) AS enc(regexp_extract(u, '([^/]*)$', 1));
CREATE OR REPLACE MACRO num(s) AS TRY_CAST(regexp_replace(s, '^\+', '') AS DOUBLE);
CREATE OR REPLACE MACRO wtime(s) AS CAST(epoch(try_strptime(
  regexp_replace(regexp_replace(regexp_replace(s, '^\+', ''), '-00-', '-01-'),
                 '-00T', '-01T'), '%Y-%m-%dT%H:%M:%SZ')) AS BIGINT);
CREATE OR REPLACE MACRO kind(st, vt, v) AS CASE
  WHEN st = 'novalue' THEN 'none'
  WHEN st = 'somevalue' THEN 'unknown'
  WHEN st <> 'value' THEN NULL
  WHEN vt = 'string' THEN 'string'
  WHEN vt = 'monolingualtext' AND (v->>'$.text') IS NOT NULL THEN 'string'
  WHEN vt = 'monolingualtext' THEN 'none'
  WHEN vt = 'wikibase-entityid' THEN 'entity'
  WHEN vt = 'globecoordinate' THEN 'coordinates'
  WHEN vt = 'quantity' THEN 'quantity'
  WHEN vt = 'time' THEN 'time'
END;
"""

# entity documents of one dump -> table `ent(id, e)`
LOAD = r"""
CREATE OR REPLACE TABLE raw AS
  SELECT regexp_replace(trim(line), ',$', '') AS l
  FROM read_csv('{path}', header=false, delim=chr(1), quote='', escape='',
                columns={{'line': 'VARCHAR'}});
CREATE OR REPLACE TABLE ent AS
  SELECT enc(CAST(l AS JSON)->>'$.id') AS id, CAST(l AS JSON) AS e FROM raw
  WHERE l NOT IN ('', '[', ']') AND json_valid(l)
    AND enc(CAST(l AS JSON)->>'$.id') IS NOT NULL;
"""

# the 13 tables from `ent`, columns in the library's order
TABLES = r"""
CREATE OR REPLACE TABLE st0 AS
  WITH k AS (SELECT id, e, unnest(json_keys(e, '$.claims')) AS pid_text FROM ent)
  SELECT id, enc(pid_text) AS property_id,
    unnest(from_json(json_extract(e, '$.claims."' || pid_text || '"'), '["JSON"]')) AS s
  FROM k;
CREATE OR REPLACE TABLE st AS
  SELECT id, property_id, s->>'$.id' AS claim_id,
    coalesce(s->>'$.rank', 'normal') AS rank,
    s->>'$.mainsnak.snaktype' AS snaktype,
    s->>'$.mainsnak.datavalue.type' AS vt,
    s->'$.mainsnak.datavalue.value' AS v,
    s->'$.qualifiers' AS quals, s->'$.references' AS refs
  FROM st0;
CREATE OR REPLACE TABLE core AS SELECT * FROM st WHERE rank <> 'deprecated';
CREATE OR REPLACE TABLE t_meta AS
  SELECT id, e->>'$.labels.en.value' AS label,
    e->>'$.descriptions.en.value' AS description FROM ent;
CREATE OR REPLACE TABLE t_string AS
  SELECT id, property_id, CASE WHEN vt = 'string' THEN v->>'$' ELSE v->>'$.text' END AS string
  FROM core WHERE kind(snaktype, vt, v) = 'string' AND snaktype = 'value';
CREATE OR REPLACE TABLE t_entity AS
  SELECT id, property_id, enc(v->>'$.id') AS entity_id FROM core
  WHERE snaktype = 'value' AND vt = 'wikibase-entityid' AND enc(v->>'$.id') IS NOT NULL;
CREATE OR REPLACE TABLE t_coordinates AS
  SELECT id, property_id, CAST(v->>'$.latitude' AS DOUBLE) AS latitude,
    CAST(v->>'$.longitude' AS DOUBLE) AS longitude,
    coalesce(CAST(v->>'$.precision' AS DOUBLE), CAST(0 AS DOUBLE)) AS precision,
    coalesce(uri(v->>'$.globe'), 0) AS globe_id
  FROM core WHERE snaktype = 'value' AND vt = 'globecoordinate';
CREATE OR REPLACE TABLE t_quantity AS
  SELECT id, property_id, num(v->>'$.amount') AS amount,
    num(v->>'$.lowerBound') AS lower_bound, num(v->>'$.upperBound') AS upper_bound,
    CASE WHEN v->>'$.unit' = '1' THEN NULL ELSE uri(v->>'$.unit') END AS unit_id
  FROM core WHERE snaktype = 'value' AND vt = 'quantity';
CREATE OR REPLACE TABLE t_time AS
  SELECT id, property_id, wtime(v->>'$.time') AS time,
    coalesce(CAST(v->>'$.precision' AS INTEGER), 0) AS precision
  FROM core WHERE snaktype = 'value' AND vt = 'time';
CREATE OR REPLACE TABLE t_none AS
  SELECT id, property_id FROM core WHERE kind(snaktype, vt, v) = 'none';
CREATE OR REPLACE TABLE t_unknown AS
  SELECT id, property_id FROM core WHERE snaktype = 'somevalue';
CREATE OR REPLACE TABLE t_statements AS
  SELECT id, property_id, claim_id, enc(v->>'$.id') AS entity_id FROM core
  WHERE snaktype = 'value' AND vt = 'wikibase-entityid' AND enc(v->>'$.id') IS NOT NULL;
CREATE OR REPLACE TABLE t_sitelinks AS
  WITH k AS (SELECT id, e, unnest(json_keys(e, '$.sitelinks')) AS site FROM ent)
  SELECT id, site, json_extract(e, '$.sitelinks."' || site || '"')->>'$.title' AS title
  FROM k WHERE (json_extract(e, '$.sitelinks."' || site || '"')->>'$.title') IS NOT NULL;
CREATE OR REPLACE TABLE t_aliases AS
  WITH k AS (SELECT id, e, unnest(json_keys(e, '$.aliases')) AS lang FROM ent),
  a AS (SELECT id, lang, unnest(from_json(json_extract(e, '$.aliases."' || lang || '"'),
                                          '["JSON"]')) AS a FROM k)
  SELECT id, lang AS language, a->>'$.value' AS alias FROM a WHERE (a->>'$.value') IS NOT NULL;
CREATE OR REPLACE TABLE qs AS
  WITH k AS (SELECT id, property_id, claim_id, quals,
                    unnest(json_keys(quals)) AS qpid FROM core WHERE quals IS NOT NULL)
  SELECT id, property_id, claim_id, enc(qpid) AS qual_property_id,
    unnest(from_json(json_extract(quals, '$."' || qpid || '"'), '["JSON"]')) AS q FROM k;
CREATE OR REPLACE TABLE rs AS
  WITH r AS (SELECT id, property_id, claim_id, refs,
                    unnest(range(CAST(json_array_length(refs) AS BIGINT))) AS ref_idx
             FROM core WHERE refs IS NOT NULL),
  k AS (SELECT id, property_id, claim_id, ref_idx,
               json_extract(refs, '$[' || ref_idx || '].snaks') AS snaks FROM r),
  kk AS (SELECT *, unnest(json_keys(snaks)) AS rpid FROM k WHERE snaks IS NOT NULL)
  SELECT id, property_id, claim_id, ref_idx, enc(rpid) AS ref_property_id,
    unnest(from_json(json_extract(snaks, '$."' || rpid || '"'), '["JSON"]')) AS q FROM kk;
"""

# qualifier/reference rows: the snak fields are extracted as text first
# (DuckDB 1.0 can mis-plan several ->> predicates over one JSON value)
FLAT = r"""
CREATE OR REPLACE TABLE t_{name} AS
  WITH x AS (SELECT {keys}, q->>'$.snaktype' AS st, q->>'$.datavalue.type' AS vt,
                    q->'$.datavalue.value' AS v FROM {src}),
  y AS (SELECT {keys}, kind(st, vt, v) AS kind, vt,
          v->>'$.text' AS txt, v->>'$' AS sval, v->>'$.id' AS eid,
          v->>'$.latitude' AS lat, v->>'$.longitude' AS lon, v->>'$.precision' AS prec,
          v->>'$.globe' AS globe, v->>'$.amount' AS amount, v->>'$.lowerBound' AS lower,
          v->>'$.upperBound' AS upper, v->>'$.unit' AS unit, v->>'$.time' AS tm FROM x)
  SELECT {keys}, kind,
    CASE WHEN kind = 'string' THEN coalesce(txt, CASE WHEN vt = 'string' THEN sval END) END AS string,
    CASE WHEN kind = 'entity' THEN enc(eid) END AS entity_id,
    CASE WHEN kind = 'coordinates' THEN TRY_CAST(lat AS DOUBLE) END AS latitude,
    CASE WHEN kind = 'coordinates' THEN TRY_CAST(lon AS DOUBLE) END AS longitude,
    CASE WHEN kind = 'coordinates' THEN coalesce(TRY_CAST(prec AS DOUBLE), CAST(0 AS DOUBLE)) END AS coord_precision,
    CASE WHEN kind = 'coordinates' THEN coalesce(uri(globe), 0) END AS globe_id,
    CASE WHEN kind = 'quantity' THEN num(amount) END AS amount,
    CASE WHEN kind = 'quantity' THEN num(lower) END AS lower_bound,
    CASE WHEN kind = 'quantity' THEN num(upper) END AS upper_bound,
    CASE WHEN kind = 'quantity' AND unit <> '1' THEN uri(unit) END AS unit_id,
    CASE WHEN kind = 'time' THEN wtime(tm) END AS time,
    CASE WHEN kind = 'time' THEN coalesce(TRY_CAST(TRY_CAST(prec AS DOUBLE) AS INTEGER), 0) END AS time_precision
  FROM y WHERE kind IS NOT NULL AND NOT (kind = 'entity' AND enc(eid) IS NULL);
"""


def derive_tables(con, dump, full=True):
    con.execute(MACROS)
    con.execute(LOAD.format(path=dump.replace("'", "''")))
    con.execute(TABLES)
    if full:
        con.execute(FLAT.format(name="qualifiers", src="qs",
                                keys="id, property_id, claim_id, qual_property_id"))
        con.execute(FLAT.format(name="references", src="rs",
                                keys="id, property_id, claim_id, ref_idx, ref_property_id"))
    return {t: digest(con, f"SELECT * FROM t_{t}")
            for t in (gen.TABLES13 if full else gen.TABLES8)}


def digest(con, sql, params=None):
    d = gen.Digest()
    for row in con.execute(sql, params or []).fetchall():
        d.add(row)
    return d.out()


def id_digest(con, sql, params=None):
    return gen.id_set_digest(r[0] for r in con.execute(sql, params or []).fetchall())


def answer(con, q):
    """One query_mix query answered by SQL over the derived tables."""
    op, a = q["op"], q["args"]
    if op == "byLabel":
        return id_digest(con, "SELECT id FROM t_meta WHERE label = ?", [a[0]])
    if op == "byId":
        return id_digest(con, "SELECT id FROM t_meta WHERE id = enc(?)", [a[0]])
    if op == "claimsOf":
        parts = " UNION ALL ".join(
            f"SELECT id, property_id, '{t}' FROM t_{t} WHERE id = $1"
            for t in ("string", "entity", "coordinates", "quantity", "time",
                      "none", "unknown"))
        return digest(con, parts, [a[0]])
    if op == "withEntityClaim":
        return id_digest(con, "SELECT id FROM t_entity WHERE property_id = ? AND entity_id = ?", a)
    if op in ("conjunctiveEntitySearch", "conjunctiveSourcedSearch"):
        src = ("t_entity" if op == "conjunctiveEntitySearch" else
               "(SELECT * FROM t_statements WHERE claim_id IN "
               "(SELECT claim_id FROM t_references))")
        sql = " INTERSECT ".join(
            [f"SELECT id FROM {src} WHERE property_id = {p} AND entity_id = {t}"
             for p, t in a[0]] + ["SELECT id FROM t_meta"])
        return id_digest(con, sql)
    closure = """WITH RECURSIVE sub(x, y) AS (
        SELECT id, entity_id FROM t_entity WHERE property_id = 1000000279
        UNION SELECT s.x, e.entity_id FROM sub s JOIN t_entity e
          ON e.id = s.y AND e.property_id = 1000000279)"""
    if op == "path":
        return id_digest(con, closure + """
            SELECT i.id FROM t_entity i WHERE i.property_id = 1000000031
              AND (i.entity_id = $1 OR i.entity_id IN (SELECT x FROM sub WHERE y = $1))""",
                         [a[1]])
    if op == "pathClosure":
        return id_digest(con, closure + """
            SELECT x FROM sub WHERE y = $1 AND x <> $1
            UNION SELECT $1 WHERE $1 IN (SELECT id FROM t_entity WHERE property_id = 1000000279
                                         UNION SELECT entity_id FROM t_entity
                                         WHERE property_id = 1000000279)""", [a[1]])
    names = ("SELECT id, label AS name FROM t_meta WHERE label IS NOT NULL" +
             (" UNION SELECT id, alias FROM t_aliases" if op == "byAnyNameFuzzy" else ""))
    return id_digest(con, f"SELECT id FROM ({names}) WHERE levenshtein(name, ?) <= 1", [a[0]])


class GroundTruthVsDuckDB(unittest.TestCase):
    def test_query_mix(self):
        for seed in (1, 2):
            with tempfile.TemporaryDirectory() as d:
                truth = gen.generate("query_mix", seed, d, SCALE)
                con = duckdb.connect()
                got = derive_tables(con, os.path.join(d, "dump.json"))
                self.assertEqual(got, truth["dump"]["tables"], f"seed {seed}")
                self.assertTrue(all(v["n"] > 0 for v in got.values()), got)
                for q in [q for b in truth["blocks"] for q in b]:
                    want = {"n": q["n"], "hash": q["hash"]}
                    self.assertEqual(answer(con, q), want, f"seed {seed}: {q}")

    def test_query_mix_selectivity(self):
        with tempfile.TemporaryDirectory() as d:
            truth = gen.generate("query_mix", 3, d, 1.0)
            sel = truth["selectivity"]
            for op in ("conjunctiveEntitySearch", "path"):
                self.assertGreater(sel[op]["max"], 0.02, sel)
            self.assertGreater(sel["conjunctiveEntitySearch"]["count"],
                               sel["conjunctiveEntitySearch"]["empty"], sel)
            self.assertEqual(sel["path"]["empty"], 0, sel)

    def test_refresh_mix(self):
        with tempfile.TemporaryDirectory() as d:
            truth = gen.generate("refresh_mix", 5, d, SCALE)
            con = duckdb.connect()
            base = derive_tables(con, os.path.join(d, "base.json"), full=False)
            self.assertEqual(base, truth["base"]["tables"])
            # the state after every changeset: per changeset the max
            # (lastrevid, deleted) record of each id wins; the latest
            # changeset touching an id decides it
            con.execute(MACROS)
            batches = truth["batches"]
            con.execute("CREATE TABLE recs(b INTEGER, l VARCHAR)")
            for b, batch in enumerate(batches):
                con.execute(LOAD.format(path=os.path.join(d, batch["path"])))
                con.execute(f"INSERT INTO recs SELECT {b}, CAST(e AS VARCHAR) FROM ent")
            con.execute(LOAD.format(path=os.path.join(d, "base.json")))
            con.execute("""CREATE TABLE win AS
              SELECT id, e, del FROM (
                SELECT *, row_number() OVER (PARTITION BY id ORDER BY b DESC, rv DESC,
                                             del DESC) AS k FROM (
                  SELECT enc(CAST(l AS JSON)->>'$.id') AS id, CAST(l AS JSON) AS e, b,
                    coalesce(CAST(CAST(l AS JSON)->>'$.lastrevid' AS BIGINT), 0) AS rv,
                    CASE WHEN CAST(l AS JSON)->>'$.deleted' = 'true' THEN 1 ELSE 0 END AS del
                  FROM recs
                  UNION ALL SELECT id, e, -1, 0, 0 FROM ent))
              WHERE k = 1""")
            con.execute("CREATE OR REPLACE TABLE ent AS SELECT id, e FROM win WHERE del = 0")
            con.execute(TABLES)
            final = {t: digest(con, f"SELECT * FROM t_{t}") for t in gen.TABLES8}
            self.assertEqual(final, batches[-1]["tables"])


class ResultChecks(unittest.TestCase):
    """run.py's handling of the JVM's result, without a JVM."""

    def test_missing_or_non_finite_metric_fails_the_run(self):
        declared = [{"name": "a", "unit": "ms"}, {"name": "b", "unit": "count"}]
        metrics, ok = run.pick_metrics(declared, {"a": 1.5, "b": 0.0})
        self.assertTrue(ok)
        self.assertEqual(metrics["a"], {"value": 1.5, "unit": "ms"})
        self.assertFalse(run.pick_metrics(declared, {"a": 1.5})[1])
        self.assertFalse(run.pick_metrics(declared, {"a": "NaN", "b": 1})[1])

    def test_overhead_only_against_a_matching_untraced_run(self):
        host = {"source_sha256": "s1", "scale": 1.0, "seconds": 10.0}
        with tempfile.TemporaryDirectory() as d:
            build, run.BUILD = run.BUILD, d
            try:
                os.makedirs(os.path.join(d, "results"))
                traced = {"host": host, "e2e": {"op_ms": 110.0}}
                none = run.overhead(traced, "query_mix", 1)
                self.assertIsNone(none["against"])
                self.assertIn("reason", none)
                for name, h, v in (("query_mix-s1-t0-a.json", host, 100.0),
                                   ("query_mix-s1-t0-b.json", {**host, "scale": 0.2}, 50.0),
                                   ("query_mix-s1-t0-c.json", {**host, "source_sha256": "s0"}, 50.0)):
                    with open(os.path.join(d, "results", name), "w") as f:
                        json.dump({"host": h, "e2e": {"op_ms": v}}, f)
                got = run.overhead(traced, "query_mix", 1)
                self.assertEqual(got["against"], "query_mix-s1-t0-a.json")
                self.assertAlmostEqual(got["share"]["op_ms"], 0.1)
            finally:
                run.BUILD = build


@unittest.skipIf(NO_JVM, "--no-jvm")
class PlantedWrongExpectation(unittest.TestCase):
    def run_bench(self, *extra):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "query_mix",
             "--seed", "7", "--seconds", "2", "--trace", "0", "--scale", "0.2", *extra],
            cwd=ROOT, capture_output=True, text=True, timeout=1200)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_wrong_expectation_fails_the_run(self):
        good = self.run_bench()
        self.assertTrue(good["correct"], good)
        self.assertEqual(good["failed"], 0)
        bad = self.run_bench("--plant-wrong")
        self.assertFalse(bad["correct"], bad)
        self.assertGreaterEqual(bad["failed"], 1)


if __name__ == "__main__":
    unittest.main(argv=[a for a in sys.argv if a != "--no-jvm"])
