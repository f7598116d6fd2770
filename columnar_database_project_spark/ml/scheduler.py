"""PrefetchScheduler — top-K next-block prediction from access history.

Re-expresses reference prefetch_scheduler.py:36-182: suggest top-K
blocks to prefetch from an access sequence — encode the last ≤64 ids
(dropping unknowns; need ≥3 left, reference :110), score them with the
model's one-sequence ``predict`` (no BLAS call, so a cycle leaves no
BLAS workers spinning), mask the pad logit, sigmoid, top-k, drop
cached/unknown ids.
"""

from __future__ import annotations

import numpy as np

from columnar_database_project_spark.ml.lstm import PAD, LSTMPrefetcher

MAX_SEQ = 64        # reference prefetch_scheduler.py:171
MIN_HISTORY = 3     # reference prefetch_scheduler.py:110


class PrefetchScheduler:
    def __init__(
        self,
        model: LSTMPrefetcher,
        id2idx: dict[int, int],
        idx2id: dict[int, int],
    ) -> None:
        self.model = model
        self.id2idx = id2idx
        self.idx2id = idx2id

    # --------------------------------------------------------- inference
    def suggest_topk_prefetch(
        self,
        sequence: list[int],
        k: int = 10,
        exclude_blocks: set[int] | None = None,
    ) -> list[tuple[int, float]] | None:
        """Top-K (block_id, probability), or None when history is too
        short after dropping unknown ids (reference :92-182)."""
        enc = [self.id2idx[b] for b in sequence[-MAX_SEQ:] if b in self.id2idx]
        if len(enc) < MIN_HISTORY:
            return None
        logits = self.model.predict(enc)
        logits[PAD] = -1e9
        probs = 1.0 / (1.0 + np.exp(-np.clip(logits, -60, 60)))
        exclude = exclude_blocks or set()
        order = np.argsort(-probs)
        out: list[tuple[int, float]] = []
        for idx in order:
            block = self.idx2id.get(int(idx))
            if block is None or block in exclude:
                continue
            out.append((block, float(probs[idx])))
            if len(out) >= k:
                break
        return out
