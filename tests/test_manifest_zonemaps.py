"""Zone maps stored in the manifest (storage/manifests.py ``blocks``).

A commit records each block file's zone-map records when it first names
the file, and ``MicroBlockIndex.for_version`` indexes a version from
them. These tests check that

- at every committed version the manifest-view index equals the
  footer-built one (same candidate blocks for random predicates, same
  ``to_rows()``), and its bounds equal pyarrow's footer statistics in
  value and type;
- readers of a committed version open no footer, and a commit opens
  exactly the footers of the files it adds;
- ``register_manifest`` leaves no cached block id naming another block;
- a merge-on-read DELETE honours ``block_rows`` in the compaction it
  fires and in its copy-on-write fallback;
- each record's ``byte_offset`` is where its column chunk starts.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
from decimal import Decimal

import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, Phase, given, settings, strategies as st

from columnar_database_project_spark.catalog import load_table
from columnar_database_project_spark.engine import MicroBlockEngine
from columnar_database_project_spark.plans.predicate import (
    And,
    Between,
    Cmp,
    InList,
    IsNotNull,
    IsNull,
    Not,
    Or,
)
from columnar_database_project_spark.sources.index import (
    MicroBlockIndex,
    _dec_stat,
    _enc_stat,
    _normalize_stat,
    footer_records,
)
from columnar_database_project_spark.sources.microblock import (
    MicroBlockWriter,
    read_block,
)
from columnar_database_project_spark.storage.block_cache import BlockCache
from columnar_database_project_spark.storage.cow import (
    append_cow,
    compact_manifest,
    delete_where_cow,
    delete_where_mor,
    init_manifest_table,
    merge_mor,
    mor_compaction_debt,
    update_where_cow,
)
from columnar_database_project_spark.storage.manifests import ManifestStore
from dml_model import COLS, KEY

SCHEMA = (
    "k long, i int, f double, s string, b boolean, d date, ts timestamp, "
    "dec decimal(10,2), bin binary, n int"
)
KEY_MAX = 10_000

_ints = st.integers(-50, 50)
_floats = st.one_of(
    st.floats(-100, 100, allow_nan=False),
    st.sampled_from([float("inf"), float("-inf")]),
)
_strs = st.text(alphabet="abcé z", max_size=4)
_dates = st.dates(dt.date(1990, 1, 1), dt.date(2030, 12, 31))
_tss = st.datetimes(dt.datetime(1990, 1, 1), dt.datetime(2030, 12, 31))
_decs = st.decimals(
    min_value=-999, max_value=999, places=2,
    allow_nan=False, allow_infinity=False,
)
_bins = st.binary(max_size=3)


def _row(k: int):
    nullable = lambda s: st.one_of(st.none(), s)  # noqa: E731
    return st.tuples(
        st.just(k), nullable(_ints), nullable(_floats), nullable(_strs),
        nullable(st.booleans()), nullable(_dates), nullable(_tss),
        nullable(_decs), nullable(_bins), st.none(),
    )


@st.composite
def _table(draw):
    keys = draw(st.lists(st.integers(0, KEY_MAX), min_size=1, max_size=40,
                         unique=True))
    return [draw(_row(k)) for k in keys]


# Literals per column. Temporal columns also take ISO strings, the form
# SQL literals arrive in. ``extra`` is added by add_column mid-sequence.
_LITS = {
    "k": st.integers(-10, KEY_MAX + 10),
    "i": _ints,
    "f": _floats,
    "s": _strs,
    "b": st.booleans(),
    "d": st.one_of(_dates, _dates.map(str)),
    "ts": st.one_of(_tss, _tss.map(str)),
    "dec": _decs,
    "bin": _bins,
    "n": _ints,
    "extra": _strs,
}


def _leaf_on(col: str):
    lit = _LITS[col]
    return st.one_of(
        st.builds(Cmp, st.sampled_from(["=", "!=", "<", "<=", ">", ">="]),
                  st.just(col), lit),
        st.builds(Between, st.just(col), lit, lit),
        st.builds(InList, st.just(col),
                  st.lists(lit, max_size=3).map(tuple)),
        st.just(IsNull(col)),
        st.just(IsNotNull(col)),
    )


_pred = st.recursive(
    st.sampled_from(sorted(_LITS)).flatmap(_leaf_on),
    lambda inner: st.one_of(
        st.builds(And, inner, inner),
        st.builds(Or, inner, inner),
        st.builds(Not, inner),
    ),
    max_leaves=4,
)


def _assert_bounds_are_footer_stats(idx: MicroBlockIndex) -> None:
    """Exact round trip: every bound equals pyarrow's footer statistic
    in value AND type (timestamps, strings, bytes...). Where pyarrow
    cannot convert a statistic (decimals Spark stores as INT64), the
    bound must equal the row group's own min / max."""
    files: dict[str, pq.ParquetFile] = {}
    for bm in idx.blocks:
        pf = files.setdefault(bm.file_path, pq.ParquetFile(bm.file_path))
        col = pf.metadata.row_group(bm.row_group_id).column(bm.column_id)
        st_ = col.statistics
        if st_ is None or not st_.has_min_max:
            want = (None, None)
        else:
            try:
                want = (_normalize_stat(st_.min), _normalize_stat(st_.max))
            except NotImplementedError:
                data = pf.read_row_group(
                    bm.row_group_id, columns=[bm.column_name]
                ).column(0)
                mm = pc.min_max(data)
                want = (mm["min"].as_py(), mm["max"].as_py())
        got = (bm.stat_min, bm.stat_max)
        assert [(type(v), v) for v in got] == [(type(v), v) for v in want], (
            bm, want,
        )
        assert bm.null_count == (
            st_.null_count if st_ is not None and st_.has_null_count else None
        )
        start = (col.dictionary_page_offset if col.has_dictionary_page
                 else col.data_page_offset)
        assert (bm.num_values, bm.byte_offset, bm.byte_length,
                bm.compression) == (col.num_values, start,
                                    col.total_compressed_size,
                                    col.compression)


@pytest.mark.parametrize("value", [
    None, 0, -(2 ** 70), 1.5, -0.0, float("inf"), float("-inf"), True,
    "", "é z", b"\xff\x00", dt.date(1992, 2, 29),
    dt.datetime(2020, 1, 1, 1, 2, 3, 456789),
    dt.datetime(2020, 1, 1, 1, 2, 3, 456789, tzinfo=dt.timezone.utc),
    dt.time(23, 59, 59, 1), Decimal("-3.450"), pd.Timestamp(1),
])
def test_stat_codec_round_trips_exactly_through_json(value):
    back = _dec_stat(json.loads(json.dumps(_enc_stat(value))))
    assert (type(back), back) == (type(value), value)
    assert str(back) == str(value)


# Each example runs seven Spark commits, so examples are few and a
# failure is reported as drawn, without the (minutes-long) shrink.
@settings(
    max_examples=3,
    deadline=None,
    phases=[Phase.explicit, Phase.reuse, Phase.generate],
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(rows=_table(), data=st.data())
def test_manifest_view_equals_footer_index_at_every_version(
    spark, tmp_path_factory, rows, data
):
    """Commit init → CoW delete → CoW update → MoR delete → MoR merge →
    add_column → compaction over a random typed table. At every
    version the index built from the manifest's records and the one
    built from the version's footers agree on ``to_rows()`` and on the
    candidate blocks of random predicates."""
    store = ManifestStore(str(tmp_path_factory.mktemp("zm_prop")))
    df = spark.createDataFrame(rows, SCHEMA)
    init_manifest_table(spark, store, df.repartition(3, "k"), block_rows=5)
    cut = data.draw(st.integers(0, KEY_MAX), label="delete k <")
    delete_where_cow(spark, store, f"k < {cut}", block_rows=5)
    bound = data.draw(_ints, label="update i >")
    update_where_cow(
        spark, store, f"i > {bound}",
        {"f": "f * 2", "s": "concat(s, 'u')"}, block_rows=5,
    )
    lo = data.draw(st.integers(0, KEY_MAX), label="mor delete lo")
    delete_where_mor(
        spark, store, f"k BETWEEN {lo} AND {lo + KEY_MAX // 4}",
        block_rows=5,
    )
    old = [r[0] for r in rows]
    keys = data.draw(st.lists(
        st.sampled_from(old) | st.integers(0, KEY_MAX),
        min_size=1, max_size=6, unique=True,
    ), label="merge keys")
    updates = spark.createDataFrame(
        [data.draw(_row(k)) for k in keys], SCHEMA
    )
    merge_mor(spark, store, updates, "k", block_rows=5)
    store.add_column("extra", "string")
    compact_manifest(spark, store, block_rows=5)

    for v in store.versions():
        view = MicroBlockIndex.for_version(store.snapshot(v), table_id="t")
        footers = MicroBlockIndex.build_from_files(
            store.files_for(v), table_id="t"
        )
        assert view.to_rows() == footers.to_rows(), v
        _assert_bounds_are_footer_stats(view)
        # provably empty: no stored key exceeds KEY_MAX
        assert view.candidate_blocks(Cmp(">", "k", KEY_MAX)) == []
        for p in data.draw(st.lists(_pred, min_size=25, max_size=25),
                           label=f"preds v{v}"):
            assert view.candidate_blocks(p) == footers.candidate_blocks(p), (
                v, p,
            )


@pytest.fixture(scope="module")
def orders_df(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").select(*COLS)


@pytest.fixture
def footer_opens(monkeypatch):
    """Paths of the Parquet footers opened through pyarrow while the
    test runs (``read_metadata`` opens through ``ParquetFile``: one
    open is counted once)."""
    opened: list[str] = []
    depth = threading.local()

    def counting(fn):
        def wrapper(path, *args, **kwargs):
            n = getattr(depth, "n", 0)
            if n == 0:
                opened.append(os.path.abspath(str(path)))
            depth.n = n + 1
            try:
                return fn(path, *args, **kwargs)
            finally:
                depth.n = n

        return wrapper

    monkeypatch.setattr(pq, "ParquetFile", counting(pq.ParquetFile))
    monkeypatch.setattr(pq, "read_metadata", counting(pq.read_metadata))
    return opened


def _eight_block_store(spark, orders_df, path) -> tuple[ManifestStore, int, list]:
    """orders sorted on the key, in exactly 8 one-block files."""
    store = ManifestStore(path)
    n = orders_df.count()
    rows = -(-n // 8)
    init_manifest_table(
        spark, store, orders_df.orderBy(KEY).coalesce(1), block_rows=rows
    )
    assert len(store.files_for()) == 8
    keys = sorted(r[0] for r in orders_df.select(KEY).collect())
    return store, rows, keys


class TestFooterOpens:
    def test_readers_open_none_and_commits_open_only_added_files(
        self, spark, orders_df, tmp_path_factory, footer_opens
    ):
        store, rows, keys = _eight_block_store(
            spark, orders_df, str(tmp_path_factory.mktemp("zm_opens"))
        )

        def added(before: set) -> list[str]:
            return sorted(set(store.files_for()) - before)

        eng = MicroBlockEngine(spark)
        footer_opens.clear()
        eng.register_manifest("zo", store)
        assert footer_opens == []

        # MoR delete: triage and the commit read the manifest only
        rep = delete_where_mor(spark, store, f"{KEY} = {keys[3]}")
        assert rep["mode"] == "mor" and rep["deleted"] == 1
        mor_compaction_debt(store)
        eng.register_manifest("zo", store)
        assert footer_opens == []

        # the engine verb, with the auto-compaction it fires: only the
        # compaction's new files are opened (its row check + commit)
        before = set(store.files_for())
        rep = eng.delete_where_mor("zo", f"{KEY} = {keys[rows + 3]}", store)
        assert rep["auto_compact"]["fired"]
        assert set(footer_opens) == set(added(before))

        # a CoW rewrite opens exactly the footers of the files it adds
        footer_opens.clear()
        before = set(store.files_for())
        rep = delete_where_cow(spark, store, f"{KEY} = {keys[-5]}")
        assert rep["files_rewritten"] == 1
        assert sorted(footer_opens) == added(before) != []

        footer_opens.clear()
        before = set(store.files_for())
        append_cow(spark, store, orders_df.limit(3))
        assert sorted(footer_opens) == added(before) != []

        # metadata-only commit: every record is copied from the head
        footer_opens.clear()
        store.add_column("note", "string")
        eng.register_manifest("zo", store)
        assert footer_opens == []
        # three single-row deletes, then three rows appended
        assert eng.table("zo").count() == orders_df.count()


class TestRegisterManifestCache:
    @pytest.mark.parametrize("block, survivors", [(0, 0), (7, 7)])
    def test_cached_ids_keep_naming_the_block_they_were_read_from(
        self, spark, orders_df, tmp_path_factory, block, survivors
    ):
        """Block ids are positions in sorted file order. A CoW delete in
        block 0 shifts every id (its rewrite sorts last); one in block 7
        only replaces id 7. register_manifest must drop exactly the ids
        that now name another (file, row group)."""
        store, rows, keys = _eight_block_store(
            spark, orders_df, str(tmp_path_factory.mktemp("zm_cache"))
        )
        cache = BlockCache(capacity=16)
        eng = MicroBlockEngine(spark, cache=cache)
        eng.register_manifest("zc", store)
        read_from = {}
        for b in range(8):
            cache.put(b, read_block(spark, eng.index, b))
            read_from[b] = eng.index.block_key(b)

        lo, hi = keys[block * rows], keys[block * rows + 49]
        rep = eng.delete_where_cow(
            "zc", f"{KEY} BETWEEN {lo} AND {hi}", store, block_rows=rows
        )
        assert rep["files_rewritten"] == 1
        eng.register_manifest("zc", store)

        cached = cache.cached_ids()
        assert len(cached) == survivors
        for b in cached:
            assert eng.index.block_key(b) == read_from[b]
        sql = f"SELECT count(*) AS c FROM zc WHERE {KEY} >= {keys[0]}"
        predicted = eng.index.predict_blocks_for_sql(sql)
        assert len(predicted) == 8
        zone = eng.explain(sql)["zone_map"]
        assert zone["predicted_cached"] == len(set(predicted) & set(cached))


class TestMorDeleteBlockRows:
    def test_auto_compaction_and_cow_fallback_honour_block_rows(
        self, spark, orders_df, tmp_path_factory
    ):
        store, rows, keys = _eight_block_store(
            spark, orders_df, str(tmp_path_factory.mktemp("zm_rows"))
        )
        n = orders_df.count()
        # one key in each of three blocks: the compaction rewrites
        # ~3 blocks of rows, more than one block_rows file holds
        doomed = (keys[1], keys[rows + 1], keys[2 * rows + 1])
        eng = MicroBlockEngine(spark)
        rep = eng.delete_where_mor(
            "zr", f"{KEY} IN {doomed}", store, block_rows=rows
        )
        assert rep["mode"] == "mor" and rep["deleted"] == 3
        assert rep["auto_compact"]["fired"]
        sizes = [pq.read_metadata(f).num_rows for f in store.files_for()]
        assert max(sizes) <= rows and sum(sizes) == n - 3
        assert eng.table("zr").count() == n - 3

        # above the DV budget the CoW fallback rewrites at block_rows too
        store2, _, _ = _eight_block_store(
            spark, orders_df, str(tmp_path_factory.mktemp("zm_rows2"))
        )
        small = rows // 4
        before = set(store2.files_for())
        rep2 = eng.delete_where_mor(
            "zr2", f"{KEY} IN {doomed}", store2, block_rows=small,
            max_dv_rows=0, auto_compact=False,
        )
        assert rep2["mode"] == "cow_fallback" and rep2["deleted"] == 3
        new = set(store2.files_for()) - before
        assert len(new) >= 3
        assert all(pq.read_metadata(f).num_rows <= small for f in new)
        assert eng.table("zr2").count() == n - 3


class TestFooterRecordByteRanges:
    def test_one_column_pyarrow_chunk_starts_after_the_magic(self, tmp_path):
        import pyarrow as pa

        path = str(tmp_path / "one.parquet")
        pq.write_table(pa.table({"a": [1, 2, 3]}), path)
        (col,) = footer_records(path)[0]["columns"]
        assert col["byte_offset"] == 4      # right after "PAR1"

    def test_chunks_lie_inside_the_file_without_overlap(self, spark, tmp_path):
        import pyarrow as pa

        plain = str(tmp_path / "plain.parquet")
        pq.write_table(
            pa.table({"a": list(range(500)), "s": [f"v{i}" for i in range(500)]}),
            plain, use_dictionary=False, row_group_size=200,
        )
        MicroBlockWriter(block_rows=300).write(
            spark.range(0, 900).selectExpr("id", "CAST(id % 7 AS STRING) AS s",
                                           "id * 0.5 AS x").coalesce(1),
            str(tmp_path / "spark"),
        )
        files = [plain] + sorted(str(p) for p in (tmp_path / "spark").glob("*.parquet"))
        assert len(files) == 4
        for f in files:
            spans = sorted(
                (c["byte_offset"], c["byte_offset"] + c["byte_length"])
                for rg in footer_records(f)
                for c in rg["columns"]
            )
            assert spans[0][0] >= 4, f
            assert spans[-1][1] <= os.path.getsize(f), f
            assert all(a[1] <= b[0] for a, b in zip(spans, spans[1:])), f
