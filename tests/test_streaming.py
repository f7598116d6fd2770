"""Structured Streaming twins: file source → memory sink, compared
against the equivalent batch computation on the same data."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from columnar_database_project_spark.catalog import load_table
from columnar_database_project_spark.operators.events import q_events_sessionize
from columnar_database_project_spark.streaming.events import (
    dedup_stream,
    high_value_alerts,
    read_event_stream,
    run_to_memory,
    sessionize_stateful,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir, tmp_path_factory):
    """Events table rewritten as a 3-file directory (arrival batches)."""
    out = str(tmp_path_factory.mktemp("stream") / "events")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(3).write.parquet(out)
    return out


@pytest.fixture(scope="module")
def ordered_stream_dir(spark, sf_dir, tmp_path_factory):
    """Events as 3 contiguous time slices with increasing mtimes, so
    maxFilesPerTrigger=1 replays them as in-time-order micro-batches
    (the arrival pattern gap-based stateful sessionization assumes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("ordered_stream") / "events"
    out.mkdir()
    pdf = (
        load_table(spark, sf_dir, "events")
        .toPandas()
        .sort_values(["ts", "event_id"])
        .reset_index(drop=True)
    )
    n = len(pdf)
    bounds = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        chunk = pdf.iloc[bounds[i] : bounds[i + 1]]
        path = out / f"slice{i}.parquet"
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            str(path),
            coerce_timestamps="us",           # Spark-readable TIMESTAMP(MICROS)
            allow_truncated_timestamps=True,
        )
        os.utime(path, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return str(out)


class TestStreamingTwins:
    def test_tumbling_counts_matches_batch(self, spark, stream_dir):
        stream = read_event_stream(spark, stream_dir)
        q = run_to_memory(tumbling_counts(stream), "t_tumbling", "complete")
        try:
            got = {
                (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
                for r in spark.sql("SELECT * FROM t_tumbling").collect()
            }
            batch = {
                (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
                for r in tumbling_counts(spark.read.parquet(stream_dir)).collect()
            }
            assert got == batch
            assert len(got) > 5
        finally:
            q.stop()

    def test_dedup_stream(self, spark, stream_dir):
        # files arrive in random event-time order → use a watermark
        # wider than the data span so nothing is treated as late
        stream = read_event_stream(spark, stream_dir)
        q = run_to_memory(dedup_stream(stream, watermark="365 days"), "t_dedup", "append")
        try:
            n = spark.sql("SELECT count(*) AS c FROM t_dedup").collect()[0]["c"]
            total = spark.read.parquet(stream_dir).count()
            distinct = (
                spark.read.parquet(stream_dir).select("event_id").distinct().count()
            )
            assert n == distinct == total   # event_id is unique in testdata
        finally:
            q.stop()

    def test_sessionize_stateful_closed_only(self, spark, sf_dir, ordered_stream_dir):
        # Multi-micro-batch run must leave EXACTLY one row per closed
        # (user, session) — no per-batch partial duplicates — and match
        # the batch twin for every session the stream has closed (the
        # final open session per user stays in state, by design).
        stream = read_event_stream(spark, ordered_stream_dir)
        q = run_to_memory(
            sessionize_stateful(stream, watermark="365 days"),
            "t_sessions",
            "update",
        )
        try:
            rows = spark.sql("SELECT * FROM t_sessions").collect()
            keys = [(r["user_id"], r["session_id"]) for r in rows]
            assert len(keys) == len(set(keys)), "duplicate (user, session) rows"
            got = {
                (r["user_id"], r["session_id"]): (r["n_events"], r["session_value"])
                for r in rows
            }
            batch = q_events_sessionize(spark, sf_dir).collect()
            last_sid = {}
            for r in batch:
                last_sid[r["user_id"]] = max(
                    last_sid.get(r["user_id"], 0), r["session_id"]
                )
            expected = {
                (r["user_id"], r["session_id"]): (r["n_events"], r["session_value"])
                for r in batch
                if r["session_id"] < last_sid[r["user_id"]]
            }
            assert got == expected
            assert len(got) > 0
        finally:
            q.stop()

    def test_transitions_stateful_matches_batch_lead(
        self, spark, sf_dir, ordered_stream_dir
    ):
        """The streaming transition extractor must emit exactly the
        multiset of (user, cur, nxt) pairs the batch lead() window
        produces — INCLUDING the pairs that straddle micro-batch
        seams (the carried last-event state's whole job)."""
        from collections import Counter

        from pyspark.sql import Window as W

        from columnar_database_project_spark.streaming.events import (
            transitions_stateful,
        )

        stream = read_event_stream(spark, ordered_stream_dir)
        q = run_to_memory(
            transitions_stateful(stream, watermark="365 days"),
            "t_transitions",
            "append",
        )
        try:
            got = Counter(
                (r["user_id"], r["cur"], r["nxt"])
                for r in spark.sql("SELECT * FROM t_transitions").collect()
            )
            ev = load_table(spark, sf_dir, "events")
            w = W.partitionBy("user_id").orderBy("ts", "event_id")
            batch = Counter(
                (r["user_id"], r["cur"], r["nxt"])
                for r in ev.select(
                    "user_id",
                    F.col("event_type").alias("cur"),
                    F.lead("event_type").over(w).alias("nxt"),
                )
                .filter(F.col("nxt").isNotNull())
                .collect()
            )
            assert got == batch
            assert sum(got.values()) > 0
            # cross-seam pairs existed (i.e. the state actually carried):
            # 3 slices over many users ⇒ far fewer rows than a
            # single-batch run would emit only if state were dropped.
            n_events = ev.count()
            n_users = ev.select("user_id").distinct().count()
            assert sum(got.values()) == n_events - n_users
        finally:
            q.stop()

    def test_watermark_drops_late_rows(self, spark, tmp_path):
        """Real late-data semantics (every other test uses a 365-day
        watermark precisely to AVOID this): with a 10-minute watermark
        and append mode, a window finalizes once the watermark passes
        its end and is EVICTED from state; a row arriving in a LATER
        micro-batch with an event time inside that evicted window is
        dropped (numRowsDroppedByWatermark counts it) — the finalized
        window's count must not change and must not re-emit. Also
        proves append mode holds back the still-open trailing window.
        (Measured boundary: a late row landing in the SAME batch that
        finalizes its window still merges — eviction, not arrival,
        is the cut — which is why the late row here arrives one batch
        after the finalizing one.)"""
        import datetime as dt

        import pandas as pd

        from columnar_database_project_spark.streaming.events import (
            EVENTS_SCHEMA,
        )

        src = tmp_path / "late_events"
        src.mkdir()

        def write_slice(name, rows, mtime):
            pdf = pd.DataFrame(
                rows,
                columns=[
                    "event_id", "ts", "user_id", "event_type", "value", "props",
                ],
            )
            path = str(src / name)
            spark.createDataFrame(pdf, EVENTS_SCHEMA).coalesce(1).toPandas().to_parquet(
                path, coerce_timestamps="us", allow_truncated_timestamps=True
            )
            os.utime(path, (mtime, mtime))

        T = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
        # b1: on-time hour-0 row + a 03:00 row (watermark → 02:50)
        write_slice(
            "b1.parquet",
            [(1, T(0, 10), 1, "view", 1.0, "{}"), (2, T(3), 1, "view", 1.0, "{}")],
            1_700_000_000,
        )
        # b2: advances watermark past hour-0's end → hour-0 emits+evicts
        write_slice("b2.parquet", [(5, T(4), 1, "view", 1.0, "{}")], 1_700_000_060)
        # b3: the late row (00:20, far below the 03:50 watermark) plus a
        # trailing row whose window must stay open at stream end
        write_slice(
            "b3.parquet",
            [(3, T(0, 20), 1, "view", 1.0, "{}"), (4, T(5), 1, "view", 1.0, "{}")],
            1_700_000_120,
        )
        stream = read_event_stream(spark, str(src))
        q = run_to_memory(
            tumbling_counts(stream, window="1 hour", watermark="10 minutes"),
            "t_late",
            "append",
        )
        try:
            dropped = sum(
                p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
                for p in q.recentProgress
                if p["stateOperators"]
            )
            got = {
                r["window_start"].hour: r["n_events"]
                for r in spark.sql("SELECT * FROM t_late").collect()
            }
            assert got.get(0) == 1, f"late row leaked into a closed window: {got}"
            assert dropped == 1, f"late row not counted as dropped: {dropped}"
            assert 5 not in got and 4 not in got, (
                f"open window emitted prematurely: {got}"
            )
        finally:
            q.stop()

    def test_alerts_filter(self, spark, stream_dir):
        stream = read_event_stream(spark, stream_dir)
        q = run_to_memory(high_value_alerts(stream, 180.0), "t_alerts", "append")
        try:
            n = spark.sql("SELECT count(*) AS c FROM t_alerts").collect()[0]["c"]
            expected = (
                spark.read.parquet(stream_dir).filter(F.col("value") >= 180.0).count()
            )
            assert n == expected
        finally:
            q.stop()


class TestStreamingRound3:
    def test_sliding_counts_matches_batch(self, spark, stream_dir):
        from columnar_database_project_spark.streaming.events import (
            sliding_counts,
        )

        stream = read_event_stream(spark, stream_dir)
        q = run_to_memory(sliding_counts(stream), "t_sliding", "complete")
        try:
            got = {
                (r["window_start"], r["event_type"]): r["n_events"]
                for r in spark.sql("SELECT * FROM t_sliding").collect()
            }
            batch = {
                (r["window_start"], r["event_type"]): r["n_events"]
                for r in sliding_counts(spark.read.parquet(stream_dir)).collect()
            }
            assert got == batch
            # overlapping windows: strictly more windows than tumbling
            assert len({k[0] for k in got}) > 5
        finally:
            q.stop()

    def test_anomaly_stream_static_join_matches_batch(
        self, spark, sf_dir, stream_dir
    ):
        from columnar_database_project_spark.operators.events import (
            q_events_anomaly,
        )
        from columnar_database_project_spark.streaming.events import (
            anomaly_stream,
        )

        # static side: the per-type moments from the batch table
        stats = (
            spark.read.parquet(stream_dir)
            .groupBy("event_type")
            .agg(
                F.avg("value").alias("mu"),
                F.stddev_samp("value").alias("sd"),
            )
        )
        stream = read_event_stream(spark, stream_dir)
        q = run_to_memory(anomaly_stream(stream, stats), "t_anom", "append")
        try:
            got = {
                r["event_id"]: r["z_score"]
                for r in spark.sql("SELECT * FROM t_anom").collect()
            }
            batch = {
                r["event_id"]: r["z_score"]
                for r in q_events_anomaly(spark, sf_dir).collect()
            }
            assert got == batch
            assert len(got) > 0
        finally:
            q.stop()

    def test_stream_stream_interval_join_matches_batch(self, spark, stream_dir):
        from columnar_database_project_spark.streaming.events import (
            purchase_view_join,
        )

        s1 = read_event_stream(spark, stream_dir)
        s2 = read_event_stream(spark, stream_dir)
        q = run_to_memory(
            purchase_view_join(s1, s2, watermark="365 days"), "t_ssj", "append"
        )
        try:
            got = {
                (r["purchase_event_id"], r["view_event_id"])
                for r in spark.sql("SELECT * FROM t_ssj").collect()
            }
            ev = spark.read.parquet(stream_dir)
            batch = {
                (r["purchase_event_id"], r["view_event_id"])
                for r in purchase_view_join(ev, ev, watermark="365 days").collect()
            }
            assert got == batch
            assert len(got) > 0
        finally:
            q.stop()


@pytest.fixture(scope="module")
def docs_stream_dir(spark, sf_dir, tmp_path_factory):
    """Documents table rewritten as a 3-file directory (crawl drops)."""
    out = str(tmp_path_factory.mktemp("doc_stream") / "documents")
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(3).write.parquet(out)
    return out


class TestStreamingTextPipeline:
    """The streaming quality-filter twins must reproduce the batch
    funnel exactly — same flag expressions, same counts."""

    def test_quality_filter_stream_matches_batch_flags(
        self, spark, sf_dir, docs_stream_dir
    ):
        from columnar_database_project_spark.operators.text import (
            funnel_flag_cols,
        )
        from columnar_database_project_spark.streaming.text import (
            quality_filter_stream,
            read_document_stream,
        )

        stream = quality_filter_stream(
            read_document_stream(spark, docs_stream_dir)
        )
        q = run_to_memory(stream, "doc_flags", "append")
        try:
            got = {
                r["doc_id"]: (r["len_ok"], r["rep_ok"], r["keep"])
                for r in spark.table("doc_flags").collect()
            }
        finally:
            q.stop()
        len_ok, rep_ok, keep = funnel_flag_cols()
        want = {
            r["doc_id"]: (r["len_ok"], r["rep_ok"], r["keep"])
            for r in load_table(spark, sf_dir, "documents")
            .select(
                "doc_id",
                len_ok.alias("len_ok"),
                rep_ok.alias("rep_ok"),
                keep.alias("keep"),
            )
            .collect()
        }
        assert got == want

    def test_source_stats_stream_matches_batch_rollup(
        self, spark, sf_dir, docs_stream_dir
    ):
        from columnar_database_project_spark.operators.text import (
            funnel_flag_cols,
        )
        from columnar_database_project_spark.streaming.text import (
            read_document_stream,
            source_quality_stats_stream,
        )

        stream = source_quality_stats_stream(
            read_document_stream(spark, docs_stream_dir)
        )
        q = run_to_memory(stream, "doc_source_stats", "complete")
        try:
            got = {
                r["source"]: (r["n_docs"], r["n_kept"])
                for r in spark.table("doc_source_stats").collect()
            }
        finally:
            q.stop()
        _l, _r, keep = funnel_flag_cols()
        want = {
            r["source"]: (r["n_docs"], r["n_kept"])
            for r in load_table(spark, sf_dir, "documents")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(keep.cast("long")).alias("n_kept"),
            )
            .collect()
        }
        assert got == want


class TestStreamingDedupAgainstStore:
    def test_stream_dedup_equals_batch_keep_first(
        self, spark, sf_dir, tmp_path_factory
    ):
        """Drops arriving as ordered micro-batches must converge to the
        batch exact-dedup survivor set, with the fingerprint store
        carrying exactly one row per distinct content."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from columnar_database_project_spark.storage.manifests import (
            ManifestStore,
        )
        from columnar_database_project_spark.streaming.text import (
            dedup_stream_against_store,
            read_document_stream,
        )

        base = tmp_path_factory.mktemp("streamdedup")
        drop_dir = base / "drops"
        drop_dir.mkdir()
        docs = (
            load_table(spark, sf_dir, "documents")
            .limit(60)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        # plant cross-batch duplicates: batch1 rows 40-59 reuse the
        # TEXT of rows 0-19 (new ids) — they must be dropped by the
        # store anti-join, not in-batch dedup
        docs.loc[40:59, "text"] = docs.loc[0:19, "text"].values
        for i, sl in enumerate([slice(0, 20), slice(20, 40), slice(40, 60)]):
            chunk = docs.iloc[sl]
            p = drop_dir / f"b{i}.parquet"
            pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), str(p))
            os.utime(p, (1_700_000_000 + i * 60,) * 2)

        out = str(base / "out")
        q = dedup_stream_against_store(
            read_document_stream(spark, str(drop_dir)),
            out, str(base / "ckpt"),
        )
        q.awaitTermination(120)

        stored = ManifestStore(out).read(spark)
        got_ids = sorted(r["doc_id"] for r in stored.collect())
        # batch ground truth: keep-first by fingerprint over all drops
        bdf = spark.createDataFrame(docs)
        want_ids = sorted(
            r["doc_id"]
            for r in bdf.groupBy(F.md5("text").alias("fp"))
            .agg(F.min("doc_id").alias("doc_id"))
            .collect()
        )
        assert got_ids == want_ids
        fps = [r["fp"] for r in stored.collect()]
        assert len(fps) == len(set(fps)) == len(want_ids)


class TestStreamingHeavyHitters:
    def test_store_keeps_every_true_heavy_hitter(
        self, spark, sf_dir, tmp_path_factory
    ):
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from columnar_database_project_spark.storage.manifests import (
            ManifestStore,
        )
        from columnar_database_project_spark.streaming.text import (
            heavy_hitters_stream,
            read_document_stream,
        )

        base = tmp_path_factory.mktemp("hhstream")
        drop_dir = base / "drops"
        drop_dir.mkdir()
        docs = (
            load_table(spark, sf_dir, "documents")
            .limit(90)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        for i, sl in enumerate([slice(0, 30), slice(30, 60), slice(60, 90)]):
            p = drop_dir / f"b{i}.parquet"
            pq.write_table(
                pa.Table.from_pandas(docs.iloc[sl], preserve_index=False), str(p)
            )
            os.utime(p, (1_700_000_000 + i * 60,) * 2)

        store = str(base / "hh_store")
        cap = 20
        q = heavy_hitters_stream(
            read_document_stream(spark, str(drop_dir)),
            store, str(base / "ckpt"), capacity=cap,
        )
        q.awaitTermination(120)

        kept = {r["term"] for r in ManifestStore(store).read(spark).collect()}
        assert 0 < len(kept) <= cap
        # ground truth over the WHOLE stream
        toks = [t for s in docs["text"] for t in s.strip().split()]
        n = len(toks)
        import collections

        exact = collections.Counter(toks)
        truth = {t for t, c in exact.items() if c * (cap + 1) > n}
        assert truth <= kept  # MG merge guarantee across batches


class TestStreamingSelectionTwins:
    """Streaming PII scrub and chunking must equal the batch
    operators row-for-row (shared transformers, stateless maps)."""

    def test_pii_redact_stream_matches_batch(
        self, spark, sf_dir, docs_stream_dir
    ):
        from columnar_database_project_spark.operators.selection import (
            q_text_pii_redact,
        )
        from columnar_database_project_spark.streaming.text import (
            pii_redact_stream,
            read_document_stream,
        )

        stream = pii_redact_stream(read_document_stream(spark, docs_stream_dir))
        q = run_to_memory(stream, "pii_stream", "append")
        try:
            got = sorted(
                tuple(r) for r in spark.table("pii_stream").collect()
            )
        finally:
            q.stop()
        want = sorted(
            tuple(r) for r in q_text_pii_redact(spark, sf_dir).collect()
        )
        assert got == want

    def test_chunk_windows_stream_matches_batch(
        self, spark, sf_dir, docs_stream_dir
    ):
        from columnar_database_project_spark.operators.selection import (
            q_text_chunk_windows,
        )
        from columnar_database_project_spark.streaming.text import (
            chunk_windows_stream,
            read_document_stream,
        )

        stream = chunk_windows_stream(
            read_document_stream(spark, docs_stream_dir)
        )
        q = run_to_memory(stream, "chunk_stream", "append")
        try:
            got = sorted(
                tuple(r) for r in spark.table("chunk_stream").collect()
            )
        finally:
            q.stop()
        want = sorted(
            tuple(r) for r in q_text_chunk_windows(spark, sf_dir).collect()
        )
        assert got == want
