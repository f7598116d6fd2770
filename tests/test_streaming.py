"""The event operators that carry watermarks run unchanged on a stream:
file source → memory sink, compared against the same function on the
batch table."""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pytest
from pyspark.sql import types as T

from columnar_database_project_spark.catalog import load_table
from columnar_database_project_spark.operators.events import (
    purchase_view_join,
    sliding_counts,
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark, path: str):
    """File-source event stream, one parquet file per micro-batch."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def run_to_memory(stream_df, name: str, output_mode: str):
    """Drain everything available into the in-memory table ``name``."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    return q


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir, tmp_path_factory):
    """Events table rewritten as a 3-file directory (arrival batches)."""
    out = str(tmp_path_factory.mktemp("stream") / "events")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(3).write.parquet(out)
    return out


class TestStreamingTwins:
    def test_watermark_drops_late_rows(self, spark, tmp_path):
        """Real late-data semantics (every other test uses a 365-day
        watermark precisely to AVOID this): with a 10-minute watermark
        and append mode, a window finalizes once the watermark passes
        its end and is EVICTED from state; a row arriving in a LATER
        micro-batch with an event time inside those evicted windows is
        dropped (numRowsDroppedByWatermark counts it) — the finalized
        windows' counts must not change and must not re-emit. Also
        proves append mode holds back the still-open trailing windows.
        (A late row landing in the SAME batch that finalizes its
        window still merges — eviction, not arrival, is the cut — which
        is why the late row here arrives one batch after the
        finalizing one.)"""
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
        # b1: on-time 00:10 row + a 03:00 row (watermark → 02:50)
        write_slice(
            "b1.parquet",
            [(1, T(0, 10), 1, "view", 1.0, "{}"), (2, T(3), 1, "view", 1.0, "{}")],
            1_700_000_000,
        )
        # b2: advances the watermark to 03:50 → the windows holding
        # 00:10 ([23:30, 00:30) and [00:00, 01:00)) emit and evict
        write_slice("b2.parquet", [(5, T(4), 1, "view", 1.0, "{}")], 1_700_000_060)
        # b3: the late row (00:20, inside both evicted windows) plus a
        # trailing row whose windows must stay open at stream end
        write_slice(
            "b3.parquet",
            [(3, T(0, 20), 1, "view", 1.0, "{}"), (4, T(5), 1, "view", 1.0, "{}")],
            1_700_000_120,
        )
        stream = read_event_stream(spark, str(src))
        q = run_to_memory(
            sliding_counts(stream, watermark="10 minutes"), "t_late", "append"
        )
        try:
            dropped = sum(
                p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
                for p in q.recentProgress
                if p["stateOperators"]
            )
            got = {
                (r["window_start"].hour, r["window_start"].minute): r["n_events"]
                for r in spark.sql("SELECT * FROM t_late").collect()
            }
            for start in ((23, 30), (0, 0)):
                assert got.get(start) == 1, f"late row leaked into a closed window: {got}"
            # counted once per sliding window the late row falls in
            assert dropped == 2, f"late row not counted as dropped: {dropped}"
            # windows ending after the final 04:50 watermark stay open
            for start in ((4, 0), (4, 30), (5, 0)):
                assert start not in got, f"open window emitted prematurely: {got}"
        finally:
            q.stop()


class TestStreamingRound3:
    def test_sliding_counts_matches_batch(self, spark, stream_dir):
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

    def test_stream_stream_interval_join_matches_batch(self, spark, stream_dir):
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
