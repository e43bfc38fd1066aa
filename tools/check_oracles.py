"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry at sf0.01 and compare against its ``oracle_sql()``
DuckDB twin — row count, sorted column names, and an order-insensitive
value hash. Rows-only queries just check they run and report counts.
Each query runs in its own ``pins.scope``, so its pins are released
before the next one starts.

Usage: python tools/check_oracles.py [--json OUT.json] [sf_dir] [name ...]

``--json`` additionally writes a machine-readable record per query in
the driver's CORRECTNESS_r{N}.json shape (rows_match / schema_match /
hash_match / spark_rows / oracle_rows / err; rows-only queries carry
hash_match=null) — VERDICT r04 #8: the sf0.1 sweep becomes diffable
round-over-round instead of a transcript.
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb
import pandas as pd


def value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    d = df[cols].copy()
    for c in cols:
        d[c] = d[c].map(lambda v: repr(v))
    rows = sorted(tuple(r) for r in d.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    for c in out.columns:
        if out[c].dtype.kind in "iu":
            out[c] = out[c].astype("int64")
        elif out[c].dtype.kind == "f":
            out[c] = out[c].astype("float64")
        elif out[c].dtype == object:
            out[c] = out[c].map(
                lambda v: [*v] if isinstance(v, (list, tuple)) else v
            )
    return out


def main() -> int:
    import os

    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        json_out = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    # oracle goldens must match the sweep's scale (gen_goldens reads this
    # at golden_path() call time); run tools/gen_goldens.py --sf first
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
        os.environ["SPARK_GRAFT_ORACLE_SF"] = repr(sf)
    except ValueError:
        pass  # non-standard dir name: keep the sf0.01 default

    sys.path.insert(0, ".")
    import __spark_entry__ as entry
    from gocrd_spark import pins
    from gocrd_spark.session import get_spark

    spark = get_spark(master="local[8]", app_name="oracle-check")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    records: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        records[name] = rec
        t0 = time.time()
        try:
            with pins.scope(spark):
                sdf = normalize(fn(spark, sf_dir).toPandas())
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            rec["err"] = f"spark error: {exc}"
            n_fail += 1
            continue
        dt = time.time() - t0
        rec["spark_rows"] = len(sdf)
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows, cols={sorted(sdf.columns)} ({dt:.1f}s)")
            rec.update(rows_match=True, schema_match=True, hash_match=None)
            n_rows_only += 1
            continue
        try:
            odf = normalize(con.execute(oracles[name]).fetchdf())
        except Exception as exc:
            print(f"FAIL  {name}: oracle error: {exc}")
            rec["err"] = f"oracle error: {exc}"
            n_fail += 1
            continue
        rec["oracle_rows"] = len(odf)
        rec["rows_match"] = len(sdf) == len(odf)
        rec["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
        problems = []
        if not rec["rows_match"]:
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if not rec["schema_match"]:
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            rec["hash_match"] = value_hash(sdf) == value_hash(odf)
            if not rec["hash_match"]:
                problems.append("value hash mismatch")
                merged = _diff(sdf, odf)
                if merged is not None:
                    problems.append(f"first diffs:\n{merged}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"OK    {name}: {len(sdf)} rows match ({dt:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} oracle-match, {n_rows_only} rows-only, {n_fail} fail")
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(records, fh, indent=1)
        print(f"wrote {json_out} ({len(records)} queries)")
    spark.stop()
    return 1 if n_fail else 0


def _diff(sdf: pd.DataFrame, odf: pd.DataFrame):
    cols = sorted(sdf.columns)
    try:
        a = sdf[cols].astype(str).apply(tuple, axis=1)
        b = odf[cols].astype(str).apply(tuple, axis=1)
        only_a = set(a) - set(b)
        only_b = set(b) - set(a)
        lines = []
        for r in list(only_a)[:3]:
            lines.append(f"  spark-only: {r}")
        for r in list(only_b)[:3]:
            lines.append(f"  oracle-only: {r}")
        return "\n".join(lines)
    except Exception:
        return None


if __name__ == "__main__":
    sys.exit(main())
