"""The LSTM's one-sequence inference path, ``LSTMPrefetcher.predict``:
the logits of the batched ``forward`` bit for bit, the scheduler's
ranking unchanged, and no BLAS call, so a prefetch cycle leaves no BLAS
worker threads spinning after it returns.

The model is trained as the ``block_replay`` benchmark trains it: 2,000
synthetic events over three block ranges, seed 42, 8 epochs."""

from __future__ import annotations

import time

import numpy as np
import pytest

from columnar_database_project_spark.ml.lstm import PAD, LSTMPrefetcher
from columnar_database_project_spark.ml.scheduler import MAX_SEQ, PrefetchScheduler
from columnar_database_project_spark.ml.synthetic import generate_mixed_logs
from columnar_database_project_spark.ml.training_set import build_from_sequence

RANGES = [(0, 25), (50, 80), (100, 139)]


@pytest.fixture(scope="module")
def scheduler() -> PrefetchScheduler:
    ts = build_from_sequence(generate_mixed_logs(2000, ranges=RANGES, seed=42))
    model = LSTMPrefetcher(ts.vocab_size, seed=7)
    model.fit(ts.inputs, ts.labels, epochs=8)
    return PrefetchScheduler(model, ts.id2idx, ts.idx2id)


def _sequences(scheduler, n: int = 128) -> list[list[int]]:
    """Seeded token sequences of every length from 1 to 64."""
    rng = np.random.RandomState(0)
    vocab = scheduler.model.num_tokens
    return [list(rng.randint(1, vocab, size=1 + i % MAX_SEQ)) for i in range(n)]


def _forward_ranking(scheduler, seq, k, exclude) -> list[tuple[int, float]]:
    """The ranking as the scheduler computed it through ``forward``."""
    enc = [scheduler.id2idx[b] for b in seq[-MAX_SEQ:] if b in scheduler.id2idx]
    logits = scheduler.model.forward([enc])[0]
    logits[PAD] = -1e9
    probs = 1.0 / (1.0 + np.exp(-np.clip(logits, -60, 60)))
    out = []
    for idx in np.argsort(-probs):
        block = scheduler.idx2id.get(int(idx))
        if block is not None and block not in exclude:
            out.append((block, float(probs[idx])))
        if len(out) >= k:
            break
    return out


class TestPredict:
    def test_logits_equal_forward(self, scheduler):
        model = scheduler.model
        for seq in _sequences(scheduler):
            assert np.array_equal(model.predict(seq), model.forward([seq])[0]), len(seq)

    def test_ranking_equals_forward_ranking(self, scheduler):
        trace = generate_mixed_logs(400, ranges=RANGES, seed=5)
        for end in range(10, 400, 13):
            seq = trace[max(0, end - 80):end]
            exclude = set(seq[-3:])
            got = scheduler.suggest_topk_prefetch(sequence=seq, k=12, exclude_blocks=exclude)
            assert got == _forward_ranking(scheduler, seq, 12, exclude)

    def test_suggest_leaves_no_cpu_burning(self, scheduler):
        """CPU of the whole process over one suggestion and the 0.2 s
        after it. A threaded BLAS call leaves its workers busy-waiting
        for ~130 ms after it returns (about 380 ms of CPU on 4 cores);
        the einsum path burns ~2 ms. Best of three windows, so one
        burst of unrelated work in the process cannot fail it."""
        seq = generate_mixed_logs(MAX_SEQ, ranges=RANGES, seed=3)
        spent = []
        for _ in range(3):
            time.sleep(0.3)          # let earlier BLAS work settle
            c0 = time.process_time()
            assert scheduler.suggest_topk_prefetch(sequence=seq, k=10)
            time.sleep(0.2)
            spent.append(time.process_time() - c0)
        assert min(spent) < 0.050, spent
