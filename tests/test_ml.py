"""ML prefetch stack: LSTM gradient/learning, training set, scheduler,
model persistence, evaluation — mirroring the reference's pipeline
(smoke_test.py:5-68) with actual assertions."""

from __future__ import annotations

import numpy as np
import pytest

from columnar_database_project_spark.ml.evaluate import evaluate
from columnar_database_project_spark.ml.lstm import LSTMPrefetcher, _sigmoid
from columnar_database_project_spark.ml.scheduler import PrefetchScheduler
from columnar_database_project_spark.ml.synthetic import generate_mixed_logs
from columnar_database_project_spark.ml.training_set import build_from_sequence


class TestTrainingSet:
    def test_vocab_reserves_zero(self):
        ts = build_from_sequence([7, 8, 7, 9, 8, 7], window=2)
        assert 0 not in ts.id2idx.values()
        assert ts.vocab_size == 4  # 3 distinct + pad

    def test_windowing(self):
        ts = build_from_sequence([1, 2, 3, 4, 5], window=3)
        assert len(ts.inputs) == 2
        # windows are consecutive, label is the next element
        decoded = [[ts.idx2id[i] for i in w] for w in ts.inputs]
        assert decoded == [[1, 2, 3], [2, 3, 4]]
        assert [ts.idx2id[l] for l in ts.labels] == [4, 5]

    def test_save_load_mappings(self, tmp_path):
        import json

        ts = build_from_sequence([5, 6, 5, 7, 6, 5, 6], window=2)
        ts.save(str(tmp_path / "ds.json"), str(tmp_path / "map.json"))
        m = json.loads((tmp_path / "map.json").read_text())
        assert {int(k): v for k, v in m["id2idx"].items()} == ts.id2idx
        assert {int(k): v for k, v in m["idx2id"].items()} == ts.idx2id
        assert m["vocab_size"] == ts.vocab_size


class TestLSTM:
    def test_gradients_match_numeric(self):
        m = LSTMPrefetcher(num_tokens=6, embed_dim=3, hidden_dim=4, seed=1)
        seqs = [[1, 2, 3], [4, 5]]
        mh = np.zeros((2, 6))
        mh[0, 2] = 1
        mh[1, 5] = 1

        def loss_fn():
            probs = _sigmoid(m.forward(seqs))
            eps = 1e-12
            return -np.mean(
                mh * np.log(probs + eps) + (1 - mh) * np.log(1 - probs + eps)
            )

        before = loss_fn()
        # a few optimizer steps must reduce the loss
        for _ in range(10):
            m.train_step(seqs, mh, lr=3e-2)
        assert loss_fn() < before

    def test_learns_sequential_pattern(self):
        seq = generate_mixed_logs(2000, seed=7)
        ts = build_from_sequence(seq)
        split = int(len(ts.inputs) * 0.8)
        m = LSTMPrefetcher(ts.vocab_size)
        m.fit(ts.inputs[:split], ts.labels[:split], epochs=8)
        metrics = evaluate(m, ts.inputs[split:], ts.labels[split:])
        # mostly-sequential workload: next block is predictable
        assert metrics["hit@1"] > 0.35
        assert metrics["hit@10"] > 0.6
        assert metrics["mrr"] > 0.4

    def test_variable_length_batches(self):
        m = LSTMPrefetcher(num_tokens=10)
        logits = m.forward([[1], [2, 3, 4, 5], [6, 7]])
        assert logits.shape == (3, 10)
        # a padded short sequence scores identically to its unpadded self
        solo = m.forward([[1]])
        np.testing.assert_allclose(logits[0], solo[0], atol=1e-10)

    def test_save_load_roundtrip(self, tmp_path):
        m = LSTMPrefetcher(num_tokens=12, seed=3)
        path = str(tmp_path / "model.npz")
        m.save(path)
        m2 = LSTMPrefetcher.load(path)
        seqs = [[1, 2, 3]]
        np.testing.assert_allclose(m.forward(seqs), m2.forward(seqs))


class TestScheduler:
    def _trained(self):
        seq = generate_mixed_logs(1500, seed=3)
        ts = build_from_sequence(seq)
        m = LSTMPrefetcher(ts.vocab_size)
        m.fit(ts.inputs, ts.labels, epochs=6)
        return PrefetchScheduler(m, ts.id2idx, ts.idx2id), seq

    def test_topk_suggestions(self):
        sched, seq = self._trained()
        out = sched.suggest_topk_prefetch(sequence=seq[:40], k=5)
        assert out is not None and len(out) == 5
        blocks = [b for b, _ in out]
        assert len(set(blocks)) == 5
        probs = [p for _, p in out]
        assert probs == sorted(probs, reverse=True)

    def test_short_history_returns_none(self):
        sched, _ = self._trained()
        assert sched.suggest_topk_prefetch(sequence=[1, 2]) is None

    def test_unknown_ids_dropped(self):
        sched, seq = self._trained()
        assert sched.suggest_topk_prefetch(sequence=[99999, 99998, 99997]) is None

    def test_exclusions_respected(self):
        sched, seq = self._trained()
        base = sched.suggest_topk_prefetch(sequence=seq[:40], k=3)
        excl = {b for b, _ in base}
        out = sched.suggest_topk_prefetch(sequence=seq[:40], k=3, exclude_blocks=excl)
        assert out is not None
        assert not ({b for b, _ in out} & excl)


class TestBuildWithSpark:
    """C13's cluster-side builder: the r7 rewrite replaced the naive
    unpartitioned W.orderBy("ts") (single-task sort of the whole
    fleet log) with time-bucketed windows + seam carry. Parity with
    the driver-side builder is the correctness bar."""

    def _log_df(self, spark, seq, t0=1000.0, dt=1.5):
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "ts": [t0 + i * dt for i in range(len(seq))],
                    "query_id": ["q"] * len(seq),
                    "block": seq,
                }
            )
        )

    def test_matches_driver_builder_across_buckets(self, spark):
        from columnar_database_project_spark.ml.training_set import (
            build_from_sequence,
            build_with_spark,
        )

        seq = generate_mixed_logs(400, seed=5)
        want = build_from_sequence(seq)
        for n_buckets in (1, 4, 9):
            got = build_with_spark(
                spark, self._log_df(spark, seq), n_buckets=n_buckets
            )
            assert got.id2idx == want.id2idx
            assert got.vocab_size == want.vocab_size
            assert got.inputs == want.inputs
            assert got.labels == want.labels

    def test_empty_log_edge(self, spark):
        from columnar_database_project_spark.ml.training_set import (
            build_with_spark,
        )

        ts = build_with_spark(spark, self._log_df(spark, [1]).limit(0))
        assert ts.inputs == [] and ts.labels == [] and ts.vocab_size == 1

    def test_no_unpartitioned_window_in_source(self):
        """Structural pin: the builder must never regress to a global
        W.orderBy without partitionBy (the single-task fleet-log sort
        the r7 rewrite removed)."""
        import inspect

        from columnar_database_project_spark.ml import training_set

        src = inspect.getsource(training_set.build_with_spark)
        assert "W.partitionBy" in src
        # every window in the builder must start from a partitionBy
        # chain; a bare W.orderBy(...) is the regression this pins
        for line in src.splitlines():
            if "W.orderBy" in line:
                raise AssertionError(f"unpartitioned window: {line.strip()}")
