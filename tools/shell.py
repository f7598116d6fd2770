"""Interactive SQL shell — the engine's front door.

Parity with the reference's working entry point
(run_with_prefetch_loop.py:54-61: the ``input("SQL> ")`` loop over the
cache+logger+scheduler+engine stack wired at :12-44). Ours loops over
``engine.build_full_stack``, so every statement feeds the access log /
history / cache-touch observation path exactly like a scripted query.

Usage:
    python tools/shell.py <table_path.parquet|microblock_dir> [table_name]

Commands: plain SQL (runs + shows), ``\\stats`` (cache stats),
``\\blocks <sql>`` (predicted blocks for a WHERE),
``\\explain <sql>`` (zone-map + physical plan report, runs nothing),
``\\history`` (DESCRIBE HISTORY when the table is manifest-backed —
pass a ManifestStore root as the path), ``\\q`` to quit.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_shell(
    engine,
    input_fn=input,
    output_fn=print,
    show_rows: int = 20,
    mstore=None,
) -> int:
    """Drive the REPL with injectable I/O (tests pass fakes; the CLI
    passes the builtins). Returns the number of SQL statements run.
    ``mstore``: optional ManifestStore backing the table — enables
    ``\\history``."""
    n_run = 0
    while True:
        try:
            raw = input_fn("SQL> ")
        except (EOFError, StopIteration):
            break
        if raw is None:
            break
        sql = raw.strip()
        if not sql:
            continue
        if sql in (r"\q", "exit", "quit"):
            break
        try:
            if sql == r"\stats":
                output_fn(
                    engine.cache.stats() if engine.cache is not None else "no cache"
                )
                continue
            if sql.startswith(r"\blocks "):
                output_fn(engine.index.predict_blocks_for_sql(sql[8:]))
                continue
            if sql.startswith(r"\explain "):
                rep = engine.explain(sql[9:])
                plan = rep["physical"].pop("plan")
                output_fn(rep)
                output_fn(plan)
                continue
            if sql == r"\history":
                if mstore is None:
                    output_fn("no manifest store attached")
                else:
                    for row in mstore.history():
                        output_fn(row)
                continue
            df = engine.query(sql)
            output_fn(df.limit(show_rows).toPandas().to_string(index=False))
            n_run += 1
        except Exception as e:  # keep the loop alive on bad SQL
            output_fn(f"error: {e}")
    return n_run


def main() -> int:
    from columnar_database_project_spark.engine import build_full_stack
    from columnar_database_project_spark.session import get_spark

    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    path = sys.argv[1]
    name = sys.argv[2] if len(sys.argv) > 2 else "mytable"
    spark = get_spark("sql-shell")
    mstore = None
    if os.path.isdir(os.path.join(path, "_manifests")):
        # a ManifestStore root: register the live snapshot + index
        from columnar_database_project_spark.engine import MicroBlockEngine
        from columnar_database_project_spark.storage.manifests import (
            ManifestStore,
        )

        mstore = ManifestStore(path)
        engine = MicroBlockEngine(spark)
        engine.register_manifest(name, mstore)
    else:
        engine, _ = build_full_stack(spark, path, table_name=name)
    print(f"table '{name}' ← {path}; \\q to quit")
    run_shell(engine, mstore=mstore)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
