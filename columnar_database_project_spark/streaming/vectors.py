"""Streaming ANN-index maintenance over the embeddings modality.

The batch suite builds its IVF-PQ structures inside each query's scan
(`operators/similarity.py`); a production corpus is FED continuously,
and retraining + reassigning the whole index per drop is the one cost
you cannot pay at 100 TB. This module is the incremental form, a
store-backed ``foreachBatch``:

- centroids + codebooks are FROZEN artifacts (trained once on a
  reference sample — kilobytes, shipped in the kernel closure);
- each micro-batch of new vectors is assigned its IVF cell and PQ
  codes by the exact batch kernels, then appended to a parquet store
  ``partitionBy("cell")`` — the directory layout IS the on-disk IVF
  inverted file;
- search reads the store with the probed cells as a PARTITION filter:
  Spark lists only N_PROBE of N_IVF_CELLS directories, the persisted
  codes (8 B/vector) are all it scans, and the ADC ranking reproduces
  the batch ``q_sim_ivfpq_topk`` bit-for-bit (asserted in
  tests/test_round6.py).

No reference analog (the reference has no vector or streaming
surface); the freeze-train/incremental-assign split mirrors public
FAISS + streaming-lakehouse practice.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from columnar_database_project_spark.operators.similarity import (
    IVF_SIM_DECIMALS,
    N_IVF_CELLS,
    N_PROBE,
    PQ_DECIMALS,
    PQ_K,
    PQ_M,
    TOP_K,
    _pq_assign,
    _query_vectors,
    ivf_centroids,
    normalize_rows,
    pq_codebooks,
    stack_embeddings,
)

VECTOR_SCHEMA = "vec_id long, embedding array<float>, label int"


def read_vector_stream(spark: SparkSession, drop_dir: str) -> DataFrame:
    """File-source stream of embedding drops; swap for Kafka/object-
    store notifications in production, transformations unchanged."""
    return spark.readStream.schema(VECTOR_SCHEMA).parquet(drop_dir)


def _index_kernel(cents: np.ndarray, books: np.ndarray):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            v = stack_embeddings(pdf["embedding"])
            vn = normalize_rows(v)
            cell = np.argmax(
                np.round(vn @ cents.T, IVF_SIM_DECIMALS), axis=1
            ).astype(np.int32)
            codes = _pq_assign(v, books)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "cell": cell,
                    "codes": list(codes),
                }
            )

    return kernel


def index_vectors_stream(
    vectors: DataFrame,
    index_path: str,
    checkpoint: str,
    codebook_sf_dir: str,
):
    """Incremental IVF-PQ index build: every micro-batch is assigned
    cell + codes by the frozen artifacts and appended to the store.

    ``partitionBy("cell")`` is the point — the store's directory tree
    is the inverted file, so the search side prunes to the probed
    cells at FILE LISTING time, before a byte is read. Appends into an
    existing cell directory are new files, no rewrite. Unlike the
    manifest-backed writers, these appends land outside any commit,
    and nothing compacts the small per-batch files they leave in each
    cell. Returns the StreamingQuery (availableNow — drains present
    drops, the incremental cadence)."""
    cents = ivf_centroids(codebook_sf_dir)
    books = pq_codebooks(codebook_sf_dir)
    kernel = _index_kernel(cents, books)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select("vec_id", "embedding")
            .mapInPandas(
                kernel, schema="vec_id long, cell int, codes array<int>"
            )
            .write.mode("append")
            .partitionBy("cell")
            .parquet(index_path)
        )

    return (
        vectors.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _store_relation(spark: SparkSession, index_path: str) -> DataFrame:
    """The store as a DataFrame, memoized per (session, path, contents).

    ``spark.read.parquet`` lists the whole partition tree and infers
    schema eagerly — a fixed ~100 ms per call on the single-query
    serving path. The listing only changes when a drop appends files,
    so it is cached keyed on each cell directory's (mtime_ns, size):
    an append touches its cell dir and invalidates. Partition pruning
    is unaffected — the probed-cell ``isin`` filter prunes from the
    cached file index at planning time."""
    # Token from each cell dir's PART FILES (not the dir's own stat,
    # which an in-place part overwrite does not change — the
    # out-of-band-rewrite case catalog.file_freshness documents;
    # ADVICE r11).
    from columnar_database_project_spark.catalog import file_freshness, memo

    real = os.path.realpath(index_path)
    token = []
    try:
        for name in sorted(os.listdir(real)):
            if name.startswith("cell="):
                token.append(
                    (name,) + file_freshness(os.path.join(real, name))
                )
    except OSError:
        token.append(("missing", 0, 0))
    return memo(
        ("store_relation", id(spark), real),
        tuple(token),
        lambda: spark.read.parquet(index_path),
    )


def search_index_store(
    spark: SparkSession,
    index_path: str,
    codebook_sf_dir: str,
    n_probe: int = N_PROBE,
    n_queries: int | None = None,
) -> DataFrame:
    """ADC top-k over the PERSISTED codes — the query path an index
    consumer runs between drops. The probed-cell union becomes a
    partition filter (directory pruning); full-precision vectors are
    never touched; result is identical to the batch
    ``q_sim_ivfpq_topk`` whenever the store covers the table, because
    cells, codes, LUT sums, and roundings are the same functions."""
    cents = ivf_centroids(codebook_sf_dir)
    books = pq_codebooks(codebook_sf_dir)
    q_ids, q_raw = _query_vectors(codebook_sf_dir)
    if n_queries is not None:
        q_ids, q_raw = q_ids[:n_queries], q_raw[:n_queries]
    q_norm = normalize_rows(q_raw)
    q_sims = np.round(q_norm @ cents.T, IVF_SIM_DECIMALS)
    probe_mask = np.zeros((len(q_ids), N_IVF_CELLS), dtype=bool)
    for qi in range(len(q_ids)):
        order = np.lexsort((np.arange(N_IVF_CELLS), -q_sims[qi]))
        probe_mask[qi, order[:n_probe]] = True
    probed_union = sorted(int(c) for c in np.nonzero(probe_mask.any(0))[0])
    sub = q_raw.reshape(len(q_ids), PQ_M, -1)
    lut = np.empty((len(q_ids), PQ_M, PQ_K))
    for m in range(PQ_M):
        lut[:, m, :] = np.sum(
            (sub[:, m, None, :] - books[m][None, :, :]) ** 2, axis=-1
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: dict[int, tuple[np.ndarray, np.ndarray]] = {
            int(q): (np.empty(0, dtype=np.int64), np.empty(0)) for q in q_ids
        }
        for pdf in batches:
            vid = pdf["vec_id"].values.astype(np.int64)
            cell = pdf["cell"].values.astype(np.int64)
            codes = np.stack(pdf["codes"].values).astype(np.int64)
            ad = np.zeros((len(q_ids), len(pdf)))
            for m in range(PQ_M):
                ad += lut[:, m, codes[:, m]]
            ad = np.round(ad, PQ_DECIMALS)
            keep = probe_mask[:, cell]
            for qi, q in enumerate(q_ids):
                mask = keep[qi] & (vid != q)
                ids = np.concatenate([best[int(q)][0], vid[mask]])
                ds = np.concatenate([best[int(q)][1], ad[qi][mask]])
                if len(ids) > TOP_K:
                    order = np.lexsort((ids, ds))[:TOP_K]
                    ids, ds = ids[order], ds[order]
                best[int(q)] = (ids, ds)
        rows = {"q_id": [], "vec_id": [], "adist": []}
        for q, (ids, ds) in best.items():
            rows["q_id"].extend([q] * len(ids))
            rows["vec_id"].extend(ids.tolist())
            rows["adist"].extend(ds.tolist())
        yield pd.DataFrame(rows)

    store = _store_relation(spark, index_path).filter(
        F.col("cell").isin(probed_union)  # partition-pruned listing
    )
    scored = store.select("vec_id", "cell", "codes").mapInPandas(
        kernel, schema="q_id long, vec_id long, adist double"
    )
    w = W.partitionBy("q_id").orderBy(F.col("adist").asc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "adist", "rank")
    )


# ------------------------------------------------------- registry query

def _repo_scratch() -> str:
    import os

    return os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ),
        ".bench_data",
    )


def ensure_index_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the streamed IVF-PQ store for ``sf_dir``'s
    embeddings table and return its path. The build is the REAL
    incremental path — the table replayed as a multi-file drop through
    ``index_vectors_stream`` (availableNow) — not a batch shortcut, so
    a registry query over the store exercises exactly what a consumer
    between drops would read. Reused across calls via a manifest
    keyed on the source table's file-freshness token; any driver-side
    regeneration of the testdata invalidates and rebuilds."""
    import json
    import os
    import shutil

    from columnar_database_project_spark.catalog import file_freshness

    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    tag = "".join(c if c.isalnum() else "_" for c in os.path.abspath(sf_dir))
    base = os.path.join(_repo_scratch(), "ivfpq_store", tag)
    index_path = os.path.join(base, "index")
    manifest_path = os.path.join(base, "manifest.json")
    # JSON-stable form of the freshness token (tuples → lists; a
    # single-file token is a flat (mtime_ns, size) pair of ints)
    token = [
        list(t) if isinstance(t, (list, tuple)) else t
        for t in file_freshness(emb_path)
    ]
    if os.path.exists(manifest_path):
        try:
            with open(manifest_path) as fh:
                if json.load(fh).get("freshness") == token:
                    return index_path
        except (OSError, ValueError):
            pass
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    drops = os.path.join(base, "drops")
    spark.read.parquet(emb_path).repartition(4).write.mode(
        "overwrite"
    ).parquet(drops)
    q = index_vectors_stream(
        read_vector_stream(spark, drops),
        index_path,
        os.path.join(base, "checkpoint"),
        codebook_sf_dir=sf_dir,
    )
    q.awaitTermination()
    with open(manifest_path, "w") as fh:
        json.dump({"source": os.path.abspath(sf_dir), "freshness": token}, fh)
    return index_path


def q_sim_ivfpq_store_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of the store-backed ADC search: stream-build the
    partitioned IVF-PQ store from the embeddings table (cached across
    calls), then answer top-k from the PERSISTED codes alone. Because
    cells, codes, LUT sums, and roundings are the same functions as
    the batch ``q_sim_ivfpq_topk``, that query's SQL twin is this
    one's oracle too — the driver's hash-compare IS the bit-parity
    claim tests/test_round6.py makes, now externally checked."""
    return search_index_store(spark, ensure_index_store(spark, sf_dir), sf_dir)
