#!/usr/bin/env python3
"""Round gate: replay every `queries()` entry next to its DuckDB oracle.

Mirrors the driver's correctness harness (CORRECTNESS_r{N}.json): for each
query in `__spark_entry__.queries()` run the Spark DataFrame AND the
`oracle_sql()` string on the same parquet tables, then compare
  * row count,
  * schema (column names, sorted),
  * value hash — columns sorted by name, rows sorted by all columns,
    floats canonicalized to 12 significant digits, csv -> md5.
Queries without an oracle get a rows-only check (runs + row count >= 0)
and print the contract's reason for having none.  `--out` keeps, per
query, the Spark value hash (`spark_hash`) and, when oracled, the DuckDB
one (`oracle_hash`), so two runs can be compared hash by hash.

Usage:
    python scripts/gate.py [--sf-dir /root/testdata/sf0.01] [--only q1,q2]
Exit code 0 iff every checked query matches.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


_NULL = "\x00NULL"  # sentinel distinct from any real value incl. ""


def _fmt(v) -> str:
    """Scalar -> canonical string: floats to 12 significant digits (so
    last-ulp engine differences don't flip the hash); None and float NaN
    both canonicalize to the same NULL sentinel (Spark toPandas yields
    None where duckdb .df() yields NaN for SQL NULL) — but the sentinel
    is NOT the empty string, so a real '' vs NULL divergence still
    fails the hash."""
    if v is None:
        return _NULL
    if isinstance(v, (float, np.floating)):
        if np.isnan(v):
            return _NULL
        # -0.0 == 0.0 (IEEE): canonicalize, engines disagree on the
        # sign of a zero round result
        return f"{float(v) + 0.0:.12g}"
    return str(v)


def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        col = df[c]
        if col.dtype == object:
            # arrays/lists canonicalize ELEMENT-WISE through _fmt so
            # float arrays get the same 12-digit treatment as scalars
            out[c] = col.map(
                lambda v: json.dumps([_fmt(x) for x in v])
                if isinstance(v, (list, tuple, np.ndarray)) else _fmt(v))
        elif pd.api.types.is_float_dtype(col):
            out[c] = col.map(_fmt)
        else:
            out[c] = col.astype(str)
    cdf = pd.DataFrame(out)
    if out:
        cdf = cdf.sort_values(list(out), kind="mergesort")
    return hashlib.md5(
        cdf.to_csv(index=False).encode("utf-8")).hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--only", default="")
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from ts2g2_spark.session import get_spark

    spark = get_spark(app_name="gate")
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(args.sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"create view {t} as select * from read_parquet('{path}')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    reasons = entry.rows_only()
    only = {x for x in args.only.split(",") if x}
    results: dict[str, dict] = {}
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        rec: dict = {"err": None}
        try:
            sdf = fn(spark, args.sf_dir).toPandas()
            rec["spark_rows"] = len(sdf)
            rec["spark_hash"] = canon(sdf)
            if name in oracles:
                odf = con.execute(oracles[name]).df()
                rec["oracle_rows"] = len(odf)
                rec["oracle_hash"] = canon(odf)
                rec["rows_match"] = len(sdf) == len(odf)
                rec["schema_match"] = (
                    sorted(sdf.columns) == sorted(odf.columns))
                rec["hash_match"] = (
                    rec["rows_match"] and rec["schema_match"]
                    and rec["spark_hash"] == rec["oracle_hash"])
                if not rec["hash_match"]:
                    n_fail += 1
            else:
                rec["rows_match"] = rec["spark_rows"] >= 0
                rec["err"] = "no_oracle"
        except Exception as exc:  # noqa: BLE001 — gate must survive
            rec["err"] = f"{type(exc).__name__}: {exc}"[:500]
            n_fail += 1
        rec["sec"] = round(time.time() - t0, 2)
        results[name] = rec
        status = ("ROWS-ONLY" if rec.get("err") == "no_oracle" else
                  "MATCH" if rec.get("hash_match") else "FAIL")
        why = f"  ({reasons[name]})" if status == "ROWS-ONLY" else ""
        print(f"{status:9s} {name:32s} {rec['sec']:6.2f}s "
              f"rows={rec.get('spark_rows')}{why}", flush=True)

    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    oracled = [r for r in results.values() if r.get("err") != "no_oracle"]
    ok = [r for r in oracled if r.get("hash_match")]
    print(f"\n{len(results)} queries: {len(ok)}/{len(oracled)} oracled "
          f"MATCH, {len(results) - len(oracled)} rows-only, "
          f"{n_fail} failures")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
