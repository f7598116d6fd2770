"""Tests of the benchmark itself. From the repository root:

    python -m pytest perfbench/tests -q -p no:cacheprovider

They start one local Spark session and take two to three minutes.
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import run  # noqa: E402
from blockreplay import BlockReplay, trace_seed  # noqa: E402
from common import CpuClock, OpLog, start_spark, stop_spark, value_hash  # noqa: E402
from datagen import ensure_dataset  # noqa: E402
from spans import Tracer  # noqa: E402
from sqlmix import SqlMix, plan_passes  # noqa: E402

SHAPE = {"shiprange": 2, "oread": 1, "writes": ("delete", "merge")}
N_ORDERS = 150_000


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    c = run.Ctx(str(tmp_path_factory.mktemp("checkout")), seed=7, tracer=Tracer(False))
    os.makedirs(c.tmp_dir, exist_ok=True)
    run.set_noise_controls(c)
    ensure_dataset(c.data_dir)
    c.spark = start_spark(c.tmp_dir)
    c.cpu = CpuClock(c.spark)
    yield c
    stop_spark(c.spark)


@pytest.fixture(scope="module")
def replay(ctx):
    r = BlockReplay(ctx)
    r.setup()
    return r


def _replay_counts(replay, seq):
    log = OpLog()
    replay.run(seq, log)
    counts = replay.layer_counts()
    counts.pop("storage.access_logger.bytes_written")   # holds wall-clock stamps
    replay.close()
    return log, counts


def _sql_counts(ctx, planned):
    mix = SqlMix(ctx)
    mix.setup(planned)
    log = OpLog()
    mix.run_ops(planned[0], log, scan_metrics=True)
    d = mix.dml
    return log, mix, {"compactions": d["compactions"], "files_rewritten": d["files_rewritten"],
                      "files_new": d["files_new"], "files_read": mix.scan["files"]}


def test_same_seed_repeats_block_counts(replay):
    seq = replay.trace(trace_seed(7), 10)
    log1, c1 = _replay_counts(replay, seq)
    log2, c2 = _replay_counts(replay, seq)
    assert log1.failed == log2.failed == 0
    assert c1 == c2
    assert c1["storage.block_cache.hits"] + c1["storage.block_cache.misses"] == 10
    assert c1["ml.prefetch.issued"] > 0


def test_same_seed_repeats_sql_counts(ctx):
    planned = plan_passes(7, [SHAPE], N_ORDERS)
    log1, _, c1 = _sql_counts(ctx, planned)
    log2, _, c2 = _sql_counts(ctx, planned)
    assert log1.failed == log2.failed == 0
    assert c1 == c2
    assert c1["files_new"] > 0 and c1["files_read"] > 0


def test_seed_changes_operation_order(replay):
    assert plan_passes(1, [SHAPE] * 2, N_ORDERS) == plan_passes(1, [SHAPE] * 2, N_ORDERS)
    assert plan_passes(1, [SHAPE] * 2, N_ORDERS) != plan_passes(2, [SHAPE] * 2, N_ORDERS)
    assert replay.trace(trace_seed(1), 20) != replay.trace(trace_seed(2), 20)


def test_wrong_block_result_counts_as_failed(replay):
    seq = replay.trace(trace_seed(7), 5)
    saved = replay.expected[seq[0]]
    replay.expected[seq[0]] = (saved[0] + 1, saved[1], saved[2])
    try:
        log, _ = _replay_counts(replay, seq)
    finally:
        replay.expected[seq[0]] = saved
    wrong = sum(1 for b in seq if b == seq[0])
    assert log.failed == wrong and log.attempted == len(seq) + 1   # + the prefetch cycle


def test_wrong_sql_result_counts_as_failed(ctx):
    planned = plan_passes(8, [{"shiprange": 2}], N_ORDERS)
    mix = SqlMix(ctx)
    mix.setup(planned)
    first = planned[0][0].arg
    mix.expected[first] = tuple(v + 1 for v in mix.expected[first])
    log = OpLog()
    mix.run_ops(planned[0], log, scan_metrics=False)
    assert (log.attempted, log.failed) == (2, 1)


def test_value_hash_matches_the_oracle_check():
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", os.path.join(ROOT, "perfbench"))
    from tools.verify_oracle import value_hash as oracle_hash

    df = pd.DataFrame({"B": [2.0000001, 1.5, None], "a": ["x", "y", "z"], "c": [3, 1, 2]})
    lowered = df.copy()
    lowered.columns = [c.lower() for c in df.columns]
    assert value_hash(df) == oracle_hash(lowered)
