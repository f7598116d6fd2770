"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet tables, then compares row count,
column names, and an order-insensitive value hash. Usage:

    python tools/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from columnar_database_project_spark.catalog import TESTDATA_TABLES  # noqa: E402
from columnar_database_project_spark.session import get_spark  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form: columns sorted by name, rows sorted by all
    columns, floats rounded, NaN → None-marker."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].round(6)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def value_hash(df: pd.DataFrame) -> str:
    c = canon(df)
    payload = c.to_csv(index=False, float_format="%.6f").encode()
    return hashlib.sha256(payload).hexdigest()[:16]


def main() -> int:
    args = [a for a in sys.argv[1:] if a not in ("--vanilla", "--record")]
    vanilla = "--vanilla" in sys.argv[1:]
    record = "--record" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    # Data-dependent oracles (IVF centroid literals) must be derived
    # from the same table dir the comparison runs on — export it before
    # the registry import builds the SQL strings.
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)
    import __spark_entry__ as entrymod
    spark = get_spark("verify_oracle")
    if vanilla:
        # Simulate the round driver's config-less SparkSession: same JVM,
        # fresh SQLConf with the nanos legacy flag at its default.
        spark = spark.newSession()
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    failures: list[str] = []
    results: dict[str, dict] = {}
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            n_fail += 1
            failures.append(name)
            results[name] = {"status": "fail", "err": f"spark: {e}"}
            print(f"FAIL  {name}: spark error: {e}")
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            n_rows_only += 1
            results[name] = {
                "status": "rows_only", "spark_rows": len(sdf), "err": None,
            }
            print(f"rows-only  {name}: {len(sdf)} rows ({spark_s:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            n_fail += 1
            failures.append(name)
            results[name] = {"status": "fail", "err": f"duckdb: {e}"}
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, odf.columns)):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems:
            sdf.columns = [c.lower() for c in sdf.columns]
            odf.columns = [c.lower() for c in odf.columns]
            h1, h2 = value_hash(sdf), value_hash(odf)
            if h1 != h2:
                problems.append(f"hash {h1} vs {h2}")
        if problems:
            n_fail += 1
            failures.append(name)
            results[name] = {
                "status": "fail", "spark_rows": len(sdf),
                "oracle_rows": len(odf), "err": "; ".join(problems),
            }
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            n_pass += 1
            results[name] = {
                "status": "pass", "spark_rows": len(sdf),
                "oracle_rows": len(odf), "err": None,
            }
            print(f"PASS  {name}: {len(sdf)} rows ({spark_s:.1f}s)")
    print(
        f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only"
        + (f"  failures: {failures}" if failures else "")
    )
    if record and not only:
        # Full-registry sweeps persist their result as the repo's
        # local-coverage artifact: the external correctness run is
        # budget-capped at 50 queries/round, so this file is the
        # recorded evidence that EVERY registry entry was green
        # against the oracle at the stated time (targeted runs never
        # overwrite it — partial coverage isn't the claim).
        import datetime
        import json as _json

        payload = {
            "checked_at": datetime.datetime.now(
                datetime.timezone.utc
            ).isoformat(timespec="seconds"),
            "sf_dir": sf_dir,
            "n_pass": n_pass,
            "n_fail": n_fail,
            "n_rows_only": n_rows_only,
            "queries": results,
        }
        out = os.path.join(REPO, "CORRECTNESS_LOCAL.json")
        with open(out, "w") as fh:
            _json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"recorded {out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
