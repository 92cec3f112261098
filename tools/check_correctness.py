"""Local driver-style correctness gate: run every __spark_entry__ query
against its DuckDB oracle on the tables in ``--sf-dir`` and, when ``--out``
is given, write a CORRECTNESS-shaped JSON there.

Mirrors the driver's compare (row count + schema family + order-
insensitive value hash with columns sorted by name).  Usage::

    python tools/check_correctness.py [--sf-dir /root/testdata/sf0.01]
                                      [--out results.json]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _rows_hash(rows, cols) -> str:
    canon = sorted(tuple(_canon(r[c]) for c in sorted(cols)) for r in rows)
    return hashlib.md5(json.dumps(canon).encode()).hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", help="write per-query results as JSON here")
    args = ap.parse_args()

    import importlib.util

    import duckdb

    from red_seal_ocr_spark.session import get_spark

    spec = importlib.util.spec_from_file_location("entry", REPO / "__spark_entry__.py")
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    queries, oracles = entry.queries(), entry.oracle_sql()

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")

    spark = get_spark("correctness-gate",
                      master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    results: dict = {}
    fails = 0
    try:
        for name in sorted(queries):
            row: dict = {"rows_match": None, "schema_match": None,
                         "hash_match": None, "spark_rows": None,
                         "oracle_rows": None, "err": None}
            try:
                sdf = queries[name](spark, args.sf_dir)
                srows = [r.asDict() for r in sdf.collect()]
                row["spark_rows"] = len(srows)
                if name not in oracles:
                    # a missing oracle is a FAILURE, not a skip — otherwise a
                    # broken generated_oracles import turns the gate
                    # vacuously green (ADVICE r02)
                    row["err"] = "no_oracle"
                    fails += 1
                else:
                    ddf = con.execute(oracles[name]).fetchdf()
                    drows = ddf.to_dict("records")
                    row["oracle_rows"] = len(drows)
                    row["rows_match"] = len(srows) == len(drows)
                    row["schema_match"] = sorted(
                        c.lower() for c in ddf.columns
                    ) == sorted(c.lower() for c in sdf.columns)
                    row["hash_match"] = _rows_hash(srows, sdf.columns) == _rows_hash(
                        drows, list(ddf.columns)
                    )
                    if not (row["rows_match"] and row["schema_match"]
                            and row["hash_match"]):
                        fails += 1
            except Exception as exc:  # noqa: BLE001 - gate records, not raises
                row["err"] = f"{type(exc).__name__}: {exc}"[:300]
                fails += 1
            results[name] = row
            status = "ok" if row["hash_match"] else (row["err"] or "MISMATCH")
            print(f"{name}: {status}")
    finally:
        spark.stop()

    if args.out:
        Path(args.out).write_text(json.dumps(results, indent=1))
    total = len(results)
    oracled = sum(1 for r in results.values() if r["hash_match"] is not None)
    green = sum(1 for r in results.values() if r["hash_match"])
    print(f"\n{green}/{oracled} oracled hash-green of {total} queries; "
          f"{fails} failures" + (f" -> {args.out}" if args.out else ""))
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
