"""Training-set builder: access log → sliding-window dataset + vocab.

Re-expresses reference training_set_generator.py: flatten the access
log to the chronological block sequence, build a vocab with 0 reserved
for pad/UNK (reference :25-34), emit window-5 (inputs, next-block)
pairs (reference :36-46), persist mappings with ``vocab_size``
(reference :64-86).

Two builders:
- ``build_from_sequence`` — driver-side (the log is control-plane
  metadata; at any realistic scale it fits the driver).
- ``build_with_spark`` — the same windowing as a Spark job over the
  log table (``F.collect_list`` over a row-window), for when access
  logs are collected fleet-wide and genuinely big.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

WINDOW = 5  # reference training_set_generator.py:58


@dataclass
class TrainingSet:
    inputs: list[list[int]]       # encoded windows (vocab indices)
    labels: list[int]             # encoded next-block (vocab index)
    id2idx: dict[int, int]        # block_id → vocab index (1-based; 0 = pad/UNK)
    idx2id: dict[int, int]
    vocab_size: int               # distinct blocks + 1

    def save(self, dataset_path: str, mappings_path: str) -> None:
        for p in (dataset_path, mappings_path):
            os.makedirs(os.path.dirname(os.path.abspath(p)), exist_ok=True)
        with open(dataset_path, "w") as f:
            json.dump(
                {
                    "inputs": self.inputs,
                    "labels": self.labels,
                    "vocab_size": self.vocab_size,
                },
                f,
            )
        with open(mappings_path, "w") as f:
            json.dump(
                {
                    "id2idx": {str(k): v for k, v in self.id2idx.items()},
                    "idx2id": {str(k): v for k, v in self.idx2id.items()},
                    "vocab_size": self.vocab_size,
                },
                f,
            )


def build_vocab(sequence: list[int]) -> tuple[dict[int, int], dict[int, int]]:
    """Vocab over distinct block ids, 0 reserved (reference :25-34).
    Indices assigned in first-appearance order (deterministic)."""
    id2idx: dict[int, int] = {}
    for b in sequence:
        if b not in id2idx:
            id2idx[b] = len(id2idx) + 1
    idx2id = {v: k for k, v in id2idx.items()}
    return id2idx, idx2id


def build_from_sequence(sequence: list[int], window: int = WINDOW) -> TrainingSet:
    """Sliding-window pairs: input = w consecutive blocks, label = the
    next block (reference :36-46)."""
    id2idx, idx2id = build_vocab(sequence)
    enc = [id2idx[b] for b in sequence]
    inputs, labels = [], []
    for i in range(len(enc) - window):
        inputs.append(enc[i : i + window])
        labels.append(enc[i + window])
    return TrainingSet(
        inputs=inputs,
        labels=labels,
        id2idx=id2idx,
        idx2id=idx2id,
        vocab_size=len(id2idx) + 1,
    )


def build_with_spark(
    spark, log_df, window: int = WINDOW, n_buckets: int | None = None
) -> TrainingSet:
    """Same windowing as a Spark job over a (ts, query_id, block) log
    table, PARTITIONED: the naive form (r6 and earlier) was one
    unpartitioned ``Window.orderBy("ts")`` — a single-task sort of the
    whole fleet log, exactly the global-window anti-pattern the plan
    suite polices in the operator library. The scale-correct shape:

    1. bucket rows by time range (``n_buckets`` ≈ rows/100k when not
       given) — the window partitions on the bucket;
    2. carry each bucket's last ``window`` rows (by (ts, block) order)
       into the NEXT bucket as context-only rows, so the first rows of
       a bucket still see their trailing window across the seam;
    3. per-bucket ordered windows emit (ctx, label) for OWN rows only.

    Windows equal the global-order result exactly whenever every
    bucket holds ≥ ``window`` rows (one-bucket carry; an access-log
    time bucket at fleet scale holds millions) — pinned against
    ``build_from_sequence`` in tests/test_ml.py. The vocab pass is
    distinct-block-sized (groupBy min-(ts, block), not a full-log
    sort): first-appearance order, reference :25-34 semantics."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    ts_num = F.col("ts").cast("double")  # works for float epochs AND timestamps
    bounds = log_df.agg(
        F.min(ts_num).alias("mn"),
        F.max(ts_num).alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if bounds["n"] == 0:
        return TrainingSet([], [], {}, {}, 1)
    if n_buckets is None:
        n_buckets = max(1, int(bounds["n"]) // 100_000)
    span = (float(bounds["mx"]) - float(bounds["mn"])) / n_buckets or 1.0
    bkt = F.least(
        F.floor((ts_num - F.lit(float(bounds["mn"]))) / F.lit(span)),
        F.lit(n_buckets - 1),
    ).cast("long")
    base = log_df.select("ts", "block").withColumn("bkt", bkt)

    tail_w = W.partitionBy("bkt").orderBy(F.desc("ts"), F.desc("block"))
    carried = (
        base.withColumn("_rn", F.row_number().over(tail_w))
        .filter(F.col("_rn") <= window)
        .select("ts", "block", (F.col("bkt") + 1).alias("bkt"))
        .filter(F.col("bkt") < n_buckets)
        .withColumn("own", F.lit(False))
    )
    union = base.withColumn("own", F.lit(True)).unionByName(carried)

    ctx_w = (
        W.partitionBy("bkt")
        .orderBy("ts", "block")
        .rowsBetween(-window, -1)
    )
    rows = (
        union.withColumn("ctx", F.collect_list("block").over(ctx_w))
        .filter(F.col("own") & (F.size("ctx") == window))
        .select("ts", "ctx", F.col("block").alias("label"))
        .collect()
    )
    rows.sort(key=lambda r: (r["ts"], r["label"]))
    # vocab in first-appearance order, computed over the DISTINCT
    # blocks (block-count-sized sort, never a full-log sort)
    firsts = (
        base.groupBy("block")
        .agg(F.min(F.struct("ts", "block")).alias("first"))
        .orderBy("first")
        .select("block")
        .collect()
    )
    id2idx = {int(r["block"]): i + 1 for i, r in enumerate(firsts)}
    idx2id = {v: k for k, v in id2idx.items()}
    inputs = [[id2idx[int(b)] for b in r["ctx"]] for r in rows]
    labels = [id2idx[int(r["label"])] for r in rows]
    return TrainingSet(
        inputs=inputs,
        labels=labels,
        id2idx=id2idx,
        idx2id=idx2id,
        vocab_size=len(id2idx) + 1,
    )
