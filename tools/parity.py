"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() on DuckDB
over the same sf dir; compare row count, column names, and the
order-insensitive multiset of values (exact equality — mirrors the
driver's value-hash).

Usage: python tools/parity.py [--json OUT.json] [sf_dir] [query ...]

--json writes a CORRECTNESS_r{N}.json-shaped artifact (one row per
query: rows/schema/hash match + counts) so the queries outside the
driver's 50-entry gate window get a recorded in-repo gate every round
(r3 verdict item #4).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def main():
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:             # accept the flag in any position
        i = argv.index("--json")
        if i + 1 >= len(argv):
            sys.exit("--json requires an output path")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    results: dict[str, dict] = {}

    import __spark_entry__ as E
    from kaza_lcms_spark.session import get_spark

    spark = get_spark(app_name="parity", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = E.queries()
    oracles = E.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {str(ex)[:300]}")
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": None,
                             "oracle_rows": None,
                             "err": f"spark: {str(ex)[:200]}"}
            n_fail += 1
            continue
        if name not in oracles:
            print(f"OK-  {name}: rows-only, {len(srows)} rows ({time.time()-t0:.1f}s)")
            # no oracle: record the row count and claim no match fields
            # (a constant-true rows_match would read as a fake gate)
            results[name] = {"rows_match": None, "schema_match": None,
                             "hash_match": None, "spark_rows": len(srows),
                             "oracle_rows": None, "err": None,
                             "mode": "rows-only"}
            n_pass += 1
            continue
        try:
            tbl = con.execute(oracles[name]).fetch_arrow_table()
            dcols = tbl.column_names
            dtypes = {f.name: str(f.type) for f in tbl.schema}
            drows = [tuple(r.values()) for r in tbl.to_pylist()]
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": len(srows),
                             "oracle_rows": None,
                             "err": f"duckdb: {str(ex)[:200]}"}
            n_fail += 1
            continue
        issues = []
        if sorted(scols) != sorted(dcols):
            issues.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        # Driver-hash proxy: a DuckDB aggregate widened to int128/decimal
        # hashes differently from Spark's int64/double even when values
        # match — require a CAST on the oracle side.
        stypes = dict(sdf.dtypes)
        norm = {"int8": "i", "int16": "i", "int32": "i", "int64": "i",
                "smallint": "i", "int": "i", "bigint": "i", "tinyint": "i",
                "float": "f", "double": "f", "float32": "f", "float64": "f",
                "halffloat": "f", "string": "s", "large_string": "s",
                "bool": "b", "boolean": "b", "date": "d", "date32[day]": "d"}
        for c in scols:
            st, dt = stypes.get(c, "?"), dtypes.get(c, "?")
            a = norm.get(st, st if not st.startswith("timestamp") else "t")
            b = norm.get(dt, dt if not dt.startswith("timestamp") else "t")
            if a != b:
                issues.append(f"type skew on {c}: spark {st} vs duckdb {dt}"
                              " (driver hash will mismatch — add CASTs)")
        if len(srows) != len(drows):
            issues.append(f"rowcount {len(srows)} vs {len(drows)}")
        if not issues:
            cs, cd = canon(srows, scols), canon(drows, dcols)
            if cs != cd:
                bad = sum(1 for a, b in zip(cs, cd) if a != b)
                for a, b in zip(cs, cd):
                    if a != b:
                        issues.append(f"values differ ({bad}/{len(cs)} rows) e.g. {a} vs {b}")
                        break
                else:
                    issues.append("value multiset differs (alignment)")
        ok = not issues
        results[name] = {
            "rows_match": len(srows) == len(drows),
            "schema_match": sorted(scols) == sorted(dcols),
            "hash_match": ok,
            "spark_rows": len(srows), "oracle_rows": len(drows),
            "err": "; ".join(issues)[:300] or None,
        }
        if issues:
            print(f"FAIL {name}: {'; '.join(issues)}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    if json_out:
        with open(json_out, "w") as f:
            json.dump(results, f, indent=1)
        print(f"wrote {json_out} ({len(results)} queries)")
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
