#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB over the sf parquet tables, load the Spark parquet output from
Verify, sort columns by name + rows by all columns, and compare values.

STRICTNESS (round-2 rewrite): the round-1 version loaded the *Spark* side
through duckdb `.df()`, which converts DECIMAL to float64 on both sides and
therefore masked the driver's decimal-rendering difference (driver said
17/26 while this tool said 26/26). The driver renders Spark parquet DECIMAL
with full scale ("77.00", via pyarrow -> decimal.Decimal -> str) but DuckDB
DECIMAL as float ("77.0", via pandas float64 -> repr). To reproduce that
asymmetry exactly:

  - Spark side: pyarrow.parquet.read_table -> to_pandas() — decimal128
    columns stay `decimal.Decimal` objects (str() keeps trailing zeros).
  - Oracle side: duckdb `.df()` — DECIMAL/HUGEINT become float64.

If a query emits DECIMAL on either side, the two renderings differ whenever
a value has trailing zeros — which is the driver failure mode this tool
exists to catch. (Gate queries should therefore cast final decimal
projections to DOUBLE on both sides.)

Every run also writes <verifyOutDir>/output_hashes.json: gate name -> sha256
of the Spark side's canonical form (sorted column names, rows sorted by all
columns, each cell rendered as above), for every gate checked whose output
and oracle both load. Two runs agree on every gate's output when `cmp` finds the two files
equal.

Usage: check_oracle.py <sfDir> <verifyOutDir> [query ...]
(Dev-tool only — the shipped library is pure Scala/Spark.)
"""
import glob, hashlib, json, sys, math
import duckdb
import pyarrow.parquet as pq
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def cell(v):
    # None / NaN / NaT -> NULL
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if v is pd.NaT:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    # decimal.Decimal: str() keeps scale ("77.00") — deliberately NOT
    # normalized, to mirror the driver's comparator.
    return str(v)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False, name=None))
    return list(df.columns), rows


def load_spark(out_dir, name):
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet under {out_dir}/{name}")
    tbl = pq.read_table(files[0]) if len(files) == 1 else pq.ParquetDataset(files).read()
    # to_pandas keeps decimal128 as decimal.Decimal objects; timestamps
    # become datetime64 (str() renders identically to duckdb's).
    return tbl.to_pandas()


def main(sf_dir, out_dir, only=()):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    hashes = {}
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            odf = con.sql(sql).df()
            sdf = load_spark(out_dir, name)
        except Exception as e:
            print(f"FAIL {name}: load/exec error: {e}")
            n_fail += 1
            continue
        ocols, orows = canon(odf)
        scols, srows = canon(sdf)
        hashes[name] = hashlib.sha256(json.dumps([scols, srows]).encode()).hexdigest()
        if ocols != scols:
            print(f"FAIL {name}: columns differ spark={scols} oracle={ocols}")
            n_fail += 1
        elif len(orows) != len(srows):
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            n_fail += 1
        elif orows != srows:
            diff = next(i for i, (a, b) in enumerate(zip(orows, srows)) if a != b)
            print(f"FAIL {name}: values differ at sorted row {diff}:\n  oracle={orows[diff]}\n  spark ={srows[diff]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows)")
            n_pass += 1
    with open(f"{out_dir}/output_hashes.json", "w") as f:
        json.dump(hashes, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], set(sys.argv[3:])))
