"""Local replica of the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB over
the same sf dir, compares row count, column names, and an
order-insensitive value hash (rows sorted, columns sorted by name,
floats canonicalized).  Usage:

    python tools/compare_oracle.py [--json OUT.json] [sf_dir] [query_name ...]

With --json, a full-inventory artifact (one entry per queries() key, in
the driver's CORRECTNESS_r{N}.json shape) is written to OUT.json — the
one-command regeneration path for ORACLE_r{N}.json.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon_value(v) -> str:
    import datetime
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # driver-style float canonicalization: round-trip repr at 12 sig digits
        return f"{v:.12g}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.12g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, list):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted(
        "|".join(canon_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in canon_rows:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])
    results: dict[str, dict] = {}

    import tempfile

    from compile_time_data_contracts_spark.operators.materialize import (
        scratch_dir,
    )
    from compile_time_data_contracts_spark.session import local_session

    import __spark_entry__ as entrymod

    # a private temp dir per run, inherited by the Python workers: the
    # registry's build-once caches live in the temp dir
    # (materialize.reuse_dir).  Those built by materialize.reuse publish
    # by rename, but the library index operators build in place at their
    # path and q136 merges into its published snapshot, so two
    # concurrent runs sharing one cache path could still break each other
    tempfile.tempdir = os.environ["TMPDIR"] = scratch_dir("ctdc-oracle-")
    spark = local_session("ctdc-oracle-compare", cores=8)

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # a misspelled/stale name must FAIL, not silently match nothing and
    # exit 0 with "0 pass, 0 fail" — a green gate that compared nothing
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"FAIL  unknown query name(s): {unknown}")
        return 1
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            results[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": None,
                "oracle_rows": None,
                "err": f"spark error: {str(e)[:300]}",
            }
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows ({dt:.1f}s) [no oracle]")
            results[name] = {
                "rows_only": True,
                "spark_rows": len(srows),
                "err": None,
            }
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            results[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": len(srows),
                "oracle_rows": None,
                "err": f"duckdb error: {str(e)[:300]}",
            }
            n_fail += 1
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        sh = value_hash(scols, srows)
        dh = value_hash(dcols, drows)
        ok_hash = sh == dh
        results[name] = {
            "rows_match": ok_count,
            "schema_match": ok_cols,
            "hash_match": ok_hash,
            "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "err": None,
        }
        if ok_cols and ok_count and ok_hash:
            print(f"PASS  {name}: {len(srows)} rows ({dt:.1f}s)")
            n_pass += 1
        else:
            print(
                f"FAIL  {name}: cols={ok_cols} ({sorted(scols)} vs {sorted(dcols)}) "
                f"count={ok_count} ({len(srows)} vs {len(drows)}) hash={ok_hash}"
            )
            if ok_cols and ok_count and not ok_hash:
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                s_set = {"|".join(canon_value(r[i]) for i in order) for r in srows}
                dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
                d_set = {"|".join(canon_value(r[i]) for i in dorder) for r in drows}
                for x in sorted(s_set - d_set)[:3]:
                    print(f"        spark-only: {x[:160]}")
                for x in sorted(d_set - s_set)[:3]:
                    print(f"        duck-only:  {x[:160]}")
                # rounding-tie triage: if every differing cell is a
                # float off by at most one unit in its last rounded
                # decimal digit, this is the engine-rounding bug-class
                # (Spark rounds the shortest decimal repr, DuckDB the
                # true binary value — q206's 307.03/8) rather than a
                # semantic divergence.  Say so, so the fix (exact
                # DECIMAL sums / integer half-up arithmetic) is
                # immediate instead of a debugging session.
                def _near(sv: str, dv: str) -> bool:
                    try:
                        a, b = float(sv), float(dv)
                    except ValueError:
                        return sv == dv
                    if a == b:
                        return True
                    d = abs(a - b)
                    # one ULP of the last printed decimal digit
                    frac = max(
                        len(sv.split(".")[1]) if "." in sv else 0,
                        len(dv.split(".")[1]) if "." in dv else 0,
                    )
                    return d <= 1.5 * 10 ** (-frac)
                s_only, d_only = sorted(s_set - d_set), sorted(d_set - s_set)
                if s_only and len(s_only) == len(d_only) and all(
                    len(a.split("|")) == len(b.split("|"))
                    and sum(
                        not _near(x, y)
                        for x, y in zip(a.split("|"), b.split("|"))
                    ) == 0
                    for a, b in zip(s_only, d_only)
                ):
                    print(
                        "        ^ all diffs are last-digit rounding "
                        "ties (engine double-rounding class, not "
                        "semantics) — use DECIMAL sums / integer "
                        "half-up as in q206"
                    )
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(results, f, indent=2)
            f.write("\n")
        print(f"wrote {len(results)} entries to {json_out}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
