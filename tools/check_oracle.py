"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet directory, then compares row count, column
names, and an order-insensitive value hash.  Use while iterating:

    python tools/check_oracle.py [--json OUT.json] [sf_dir] [query ...]

``--json`` (VERDICT r11 #3) additionally writes the verdicts in the
driver's CORRECTNESS_r*.json per-query shape — {query: {rows_match,
schema_match, hash_match, spark_rows, oracle_rows, err}} plus a "_meta"
header — so the full-registry oracle result ships as a
driver-consumable record (CORRECTNESS_full.json) instead of the
50-key round-1 window under-representing the registry.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(df) -> tuple[int, list[str], str]:
    """pandas DataFrame → (rowcount, sorted cols, order-insensitive hash)."""
    import hashlib

    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)
    # normalize cell values to strings; floats via repr of rounded value
    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "<null>"
        if pd.isna(v) if not isinstance(v, (list, tuple)) else False:
            return "<null>"
        if isinstance(v, float):
            return f"{v:.10g}"
        return str(v)

    rows = sorted("\x1f".join(cell(v) for v in row) for row in df.itertuples(index=False))
    h = hashlib.md5("\x1e".join(rows).encode()).hexdigest()
    return len(df), sorted(df.columns), h


def main() -> int:
    import duckdb

    import __spark_entry__ as E
    from stock_ops_spark.session import get_spark

    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    verdicts: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {"rows_match": False, "schema_match": False,
               "hash_match": False, "spark_rows": None,
               "oracle_rows": None, "err": None}
        verdicts[name] = rec
        t0 = time.time()
        try:
            sp = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            rec["err"] = f"spark: {ex}"[:300]
            failures.append(name)
            continue
        t1 = time.time()
        rec["spark_rows"] = len(sp)
        if name not in oracles:
            print(f"ROWS  {name}: {len(sp)} rows (no oracle) [{t1-t0:.1f}s]")
            rec["err"] = "no_oracle"
            continue
        try:
            du = con.execute(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {ex}")
            rec["err"] = f"duckdb: {ex}"[:300]
            failures.append(name)
            continue
        ns, cs, hs = canon(sp)
        nd, cd, hd = canon(du)
        rec.update(
            rows_match=ns == nd, schema_match=cs == cd, hash_match=hs == hd,
            oracle_rows=nd,
        )
        ok = (ns, cs, hs) == (nd, cd, hd)
        status = "OK   " if ok else "FAIL "
        print(f"{status}{name}: spark {ns} rows / duck {nd} rows [{t1-t0:.1f}s]")
        if not ok:
            failures.append(name)
            if cs != cd:
                print(f"      cols spark={cs} duck={cd}")
            elif ns == nd:
                merged = sp.reindex(sorted(sp.columns), axis=1)
                print("      value mismatch; sample spark:")
                print(merged.head(3).to_string())
                dd = du.reindex(sorted(du.columns), axis=1)
                print("      sample duck:")
                print(dd.head(3).to_string())
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall green")
    if json_out:
        import json as _json

        n_oracled = sum(
            1 for r in verdicts.values() if r["err"] != "no_oracle"
        )
        doc = dict(verdicts)
        doc["_meta"] = {
            "sf_dir": sf_dir,
            "n_queries": len(verdicts),
            "n_oracled": n_oracled,
            "n_failures": len(failures),
            "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        }
        with open(json_out, "w") as f:
            _json.dump(doc, f, indent=1, sort_keys=True)
        print(f"json verdicts -> {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
