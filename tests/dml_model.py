"""DuckDB reference model for the DML suites.

``DuckModel`` keeps an in-process DuckDB table and runs the SQL DML
statement each engine verb stands for (DELETE / UPDATE / MERGE as
anti-join + union). The engine's manifest verbs must match it state
for state; the model shares no code with the engine, so a divergence
is a bug on one side, never a shared blind spot.

Shared by tests/test_differential_fuzz_dml.py and tests/test_cow_dml.py.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

KEY = "o_orderkey"
COLS = [KEY, "o_custkey", "o_orderstatus", "o_totalprice"]


def sorted_state(pdf: pd.DataFrame, cols: list[str] = COLS) -> list[tuple]:
    """Rows of ``pdf`` over ``cols`` as tuples, ordered by key; a
    missing value (NaN or None) reads as None."""
    out = pdf.sort_values([KEY])[cols].astype(object)
    return [
        tuple(r)
        for r in out.where(out.notna(), None).itertuples(index=False, name=None)
    ]


def states_equal(got: list[tuple], want: list[tuple]) -> bool:
    """Row-by-row equality; floats compare within 1e-9 relative."""
    if len(got) != len(want):
        return False
    for rg, rw in zip(got, want):
        for a, b in zip(rg, rw):
            if a is None or b is None:
                if a is not b:
                    return False
            elif isinstance(a, float) or isinstance(b, float):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-8):
                    return False
            elif a != b:
                return False
    return True


class DuckModel:
    """A DuckDB table mutated by the SQL twin of each DML verb."""

    def __init__(self, init: pd.DataFrame) -> None:
        self.con = duckdb.connect()
        self.con.register("init_df", init)
        self.con.execute("CREATE TABLE model AS SELECT * FROM init_df")

    def delete(self, pred: str) -> None:
        self.con.execute(f"DELETE FROM model WHERE {pred}")

    def update(self, pred: str, col: str, expr: str) -> None:
        self.con.execute(f"UPDATE model SET {col} = {expr} WHERE {pred}")

    def add_column(self, name: str, ddl_type: str) -> None:
        self.con.execute(f"ALTER TABLE model ADD COLUMN {name} {ddl_type}")

    def merge(self, updates: pd.DataFrame) -> None:
        """MERGE on ``KEY``: update rows replace same-key rows, the
        rest are inserted."""
        self.con.register("upd_df", updates)
        self.con.execute(
            "CREATE OR REPLACE TABLE model AS "
            f"SELECT * FROM model WHERE {KEY} NOT IN (SELECT {KEY} FROM upd_df) "
            "UNION ALL SELECT * FROM upd_df"
        )

    def pdf(self) -> pd.DataFrame:
        return self.con.execute(f"SELECT * FROM model ORDER BY {KEY}").df()

    def state(self, cols: list[str] = COLS) -> list[tuple]:
        return sorted_state(self.pdf(), cols)
