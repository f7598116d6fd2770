"""Differential fuzzing of the DML verbs: random MERGE / UPDATE /
DELETE sequences through the engine's manifest CoW verbs
(``delete_where_cow`` / ``update_where_cow`` / ``merge_cow`` on a
``ManifestStore``) vs a DuckDB-maintained model table running the
equivalent SQL DML (tests/dml_model.py).

The registry's four engine_* DML queries each check ONE fixed op; this
suite checks SEQUENCES — the regime where copy-on-write bugs live
(a stale registration, a carried block that should have been touched,
anti-join losing rows, a predicate NULL-semantics divergence) — and
then audits TIME TRAVEL against the recorded model state of every
committed version, which no single-op test can do.

Semantics pinned (both engines):
- DELETE removes rows where pred is TRUE only (NULL/false keep).
- UPDATE assigns where pred is TRUE only; other rows byte-identical.
- MERGE = anti-join on key + union (merge_cow's documented shape; the
  model runs the same relational form in DuckDB).
- Every committed version remains readable and equal to the model's
  state at that version (time_travel_cow).

Deterministic: seeded RNG, one Spark session, ~10 ops in seconds.
Reference anchor: the reference has no DML at all (SURVEY §2.5 gap
list) — these verbs are this repo's lifecycle extension, so the fuzzer
is their primary at-depth evidence alongside tests/test_cow_dml.py.
"""

from __future__ import annotations

import random

import pandas as pd
import pytest

from columnar_database_project_spark.catalog import load_table
from columnar_database_project_spark.engine import MicroBlockEngine
from columnar_database_project_spark.storage.cow import init_manifest_table
from columnar_database_project_spark.storage.manifests import ManifestStore
from dml_model import COLS, KEY, DuckModel, sorted_state, states_equal

N_OPS = 10
SEED = 0xD31E7E
# small blocks so triage carries some blocks by reference
BLOCK_ROWS = 256

# Literal pools straddle the data range so predicates land empty,
# full and partial — same policy as test_differential_fuzz.py.
_CUSTKEYS = [0, 10, 75, 149, 5000]
_PRICES = [0.0, 20000.0, 150000.0, 400000.0, 1e9]
_STATUSES = ["F", "O", "P", "X"]


def _leaf(rng: random.Random) -> str:
    kind = rng.randrange(4)
    if kind == 0:
        return f"o_custkey {rng.choice(['<', '<=', '>', '>=', '=', '!='])} {rng.choice(_CUSTKEYS)}"
    if kind == 1:
        return f"o_totalprice {rng.choice(['<', '>', '<=', '>='])} {rng.choice(_PRICES)!r}"
    if kind == 2:
        return f"o_orderstatus {rng.choice(['=', '!='])} '{rng.choice(_STATUSES)}'"
    lo, hi = sorted(rng.sample(_CUSTKEYS, 2))
    return f"o_custkey BETWEEN {lo} AND {hi}"


def _pred(rng: random.Random) -> str:
    if rng.random() < 0.5:
        return _leaf(rng)
    return f"({_leaf(rng)}) {rng.choice(['AND', 'OR'])} ({_leaf(rng)})"


# UPDATE assignments: (column, expression) — the same SQL text runs in
# Spark (F.expr) and DuckDB, both IEEE-double engines.
_ASSIGNMENTS = [
    ("o_totalprice", "o_totalprice * 1.05"),
    ("o_totalprice", "o_totalprice - 10.0"),
    ("o_custkey", "o_custkey + 1000"),
    ("o_orderstatus", "'Z'"),
]


@pytest.fixture(scope="module")
def dml_setup(spark, sf_dir, tmp_path_factory):
    orders = load_table(spark, sf_dir, "orders").select(*COLS)
    store = ManifestStore(str(tmp_path_factory.mktemp("dml_fuzz")))
    eng = MicroBlockEngine(spark)
    # version 1: the initial table, through the same commit log every
    # later op uses
    init_manifest_table(spark, store, orders, block_rows=BLOCK_ROWS)
    eng.register_manifest("t", store, with_index=False)
    return eng, store, DuckModel(orders.toPandas()), spark


class TestDmlSequenceMatchesDuckdb:
    def test_random_dml_sequence_and_time_travel(self, dml_setup):
        eng, store, model, spark = dml_setup
        rng = random.Random(SEED)
        target_schema = eng.table("t").schema
        version_states: dict[int, list[tuple]] = {
            store.latest(): model.state()
        }
        mismatches = []

        for step in range(N_OPS):
            op = rng.randrange(3)
            if op == 0:  # DELETE
                pred = _pred(rng)
                rep = eng.delete_where_cow(
                    "t", pred, store, block_rows=BLOCK_ROWS
                )
                model.delete(pred)
                tag = f"DELETE WHERE {pred}"
            elif op == 1:  # UPDATE
                pred = _pred(rng)
                col, expr = rng.choice(_ASSIGNMENTS)
                rep = eng.update_where_cow(
                    "t", pred, {col: expr}, store, block_rows=BLOCK_ROWS
                )
                model.update(pred, col, expr)
                tag = f"UPDATE SET {col}={expr} WHERE {pred}"
            else:  # MERGE: update some existing keys + insert new ones
                cur = model.pdf()
                n_upd = min(len(cur), rng.randrange(0, 20))
                upd = cur.sample(n=n_upd, random_state=rng.randrange(2**31))
                upd = upd.assign(
                    o_totalprice=upd["o_totalprice"] + 7.0,
                    o_orderstatus="M",
                )
                max_key = int(cur[KEY].max()) if len(cur) else 0
                n_new = rng.randrange(1, 8)
                new = pd.DataFrame(
                    {
                        KEY: [max_key + 1 + i for i in range(n_new)],
                        "o_custkey": [rng.choice(_CUSTKEYS) for _ in range(n_new)],
                        "o_orderstatus": ["N"] * n_new,
                        "o_totalprice": [
                            float(rng.choice(_PRICES)) for _ in range(n_new)
                        ],
                    }
                )
                upd_pdf = pd.concat([upd, new], ignore_index=True)[COLS]
                updates = spark.createDataFrame(upd_pdf, schema=target_schema)
                rep = eng.merge_cow(
                    "t", updates, KEY, store, block_rows=BLOCK_ROWS
                )
                model.merge(upd_pdf)
                tag = f"MERGE {len(upd_pdf)} rows ({n_new} new)"

            want = model.state()
            got = sorted_state(eng.table("t").toPandas())
            if not states_equal(got, want):
                mismatches.append(
                    (step, tag, len(got), len(want), got[:2], want[:2])
                )
            version_states[rep["version"]] = want

        assert not mismatches, mismatches

        # ---- time travel: every committed version == recorded model state
        committed = store.versions()
        assert set(version_states) == set(committed)
        for v in committed:
            got = sorted_state(
                eng.time_travel_cow("t", store, version=v).toPandas()
            )
            assert states_equal(got, version_states[v]), f"version {v}"
        # restore HEAD registration for any later test in the session
        eng.time_travel_cow("t", store)

    def test_vacuum_keeps_time_travel_for_survivors(self, dml_setup):
        """After vacuum(keep_last=2), the surviving versions still
        read; the dropped ones raise — retention is explicit, never
        silent data loss of a committed HEAD."""
        eng, store, model, spark = dml_setup
        before = store.versions()
        if len(before) < 3:
            pytest.skip("sequence too short to vacuum meaningfully")
        dropped = store.vacuum(keep_last=2)
        assert store.versions() == before[-2:]
        assert dropped["versions_removed"] == before[:-2]
        head = eng.time_travel_cow("t", store).count()
        assert head >= 0
        with pytest.raises(ValueError):
            eng.time_travel_cow("t", store, version=before[0])
