"""Cost and correctness of the merge-on-read write path: a manifest read
runs no Spark job and makes as many py4j calls whatever its deletion
vectors hold, ``merge_mor`` as many whatever its key count, every state
matches the DuckDB model (tests/dml_model.py) on both sides of the
4,096-position DV switch, and a batch whose types differ from the
manifest's is cast to them before it is written."""

from __future__ import annotations

import pathlib

import pandas as pd
import pyarrow.parquet as pq
import pytest

from columnar_database_project_spark.storage.cow import (
    append_cow,
    delete_where_cow,
    delete_where_mor,
    init_manifest_table,
    merge_cow,
    merge_mor,
    update_where_mor,
)
from columnar_database_project_spark.storage.manifests import ManifestStore
from dml_model import COLS, KEY, DuckModel, sorted_state, states_equal
from spark_counters import jobs_run, py4j_calls

PKG = pathlib.Path(__file__).resolve().parents[1] / "columnar_database_project_spark"


def _orders(n: int) -> pd.DataFrame:
    k = pd.Series(range(n), dtype="int64")
    return pd.DataFrame(
        {
            KEY: k,
            "o_custkey": (k * 7) % 150,
            "o_orderstatus": k.map(lambda i: "FOP"[i % 3]),
            "o_totalprice": ((k % 997) * 1.5 + 1000.0).round(2),
        }
    )[COLS]


def _store(spark, root, pdf: pd.DataFrame, block_rows: int) -> ManifestStore:
    """A manifest table of ``pdf`` in key order, ``block_rows`` rows a
    file."""
    store = ManifestStore(str(root))
    df = spark.createDataFrame(pdf).orderBy(KEY).coalesce(1)
    init_manifest_table(spark, store, df, block_rows=block_rows)
    return store


def _state(spark, store, cols=COLS) -> list[tuple]:
    return sorted_state(store.read(spark).toPandas(), cols)


def _dv_rows(store) -> int:
    return sum(len(p) for p in store.snapshot().dvs.values())


class TestManifestReadCost:
    """A read is planned from the manifest alone, and the DV filter is
    one JVM call whatever its size."""

    @pytest.fixture(scope="class")
    def stores(self, spark, tmp_path_factory):
        """Three 5,000-row tables of two files: no DV, and DVs of 10 and
        of 2,000 positions, all in the first file."""
        out = {}
        for name, hi in (("clean", None), ("dv10", 10), ("dv2000", 2000)):
            store = _store(spark, tmp_path_factory.mktemp(name), _orders(5000), 2500)
            if hi is not None:
                delete_where_mor(spark, store, f"{KEY} < {hi}")
                assert _dv_rows(store) == hi
            out[name] = store
        return out

    def test_read_runs_no_job(self, spark, stores):
        for store in stores.values():
            assert jobs_run(spark, lambda: store.read(spark)) == []

    def test_read_calls_do_not_grow_with_dv_size(self, spark, stores, monkeypatch):
        stores["dv10"].read(spark)          # first-use lookups out of the count
        small = py4j_calls(spark, monkeypatch, lambda: stores["dv10"].read(spark))
        large = py4j_calls(spark, monkeypatch, lambda: stores["dv2000"].read(spark))
        assert small == large

    def test_merge_mor_calls_do_not_grow_with_key_count(
        self, spark, tmp_path_factory, monkeypatch
    ):
        """10 and 1,000 merge keys, all in the first of two files: the
        same files are touched and the same calls are made."""
        calls = []
        for n_keys in (10, 10, 1000):
            store = _store(spark, tmp_path_factory.mktemp("mrg"), _orders(5000), 2500)
            batch = _orders(n_keys).assign(o_orderstatus="M")
            updates = spark.createDataFrame(batch)
            rep = {}
            calls.append(
                py4j_calls(
                    spark, monkeypatch,
                    lambda: rep.update(merge_mor(spark, store, updates, KEY)),
                )
            )
            assert (rep["mode"], rep["matched_rows"]) == ("mor", n_keys)
        assert calls[1] == calls[2]


class TestDvReadsMatchModel:
    def test_dv_read_and_mor_delete_on_added_column(self, spark, tmp_path):
        """A DV'd read, and a MoR delete whose predicate names a column
        that ``add_column`` added after the blocks were written."""
        pdf = _orders(1200)
        store = _store(spark, tmp_path / "t", pdf, 300)
        model = DuckModel(pdf)
        cols = COLS + ["q"]

        delete_where_mor(spark, store, "o_custkey < 20")
        model.delete("o_custkey < 20")
        assert _dv_rows(store) > 0
        assert states_equal(_state(spark, store), model.state())

        store.add_column("q", "double")
        model.add_column("q", "double")
        assert states_equal(_state(spark, store, cols), model.state(cols))

        update_where_mor(spark, store, "o_orderstatus = 'O'", {"q": "o_custkey / 10.0"})
        model.update("o_orderstatus = 'O'", "q", "o_custkey / 10.0")
        assert states_equal(_state(spark, store, cols), model.state(cols))

        rep = delete_where_mor(spark, store, "q > 7.5")
        model.delete("q > 7.5")
        assert rep["mode"] == "mor" and rep["deleted"] > 0
        assert states_equal(_state(spark, store, cols), model.state(cols))

    def test_dv_on_a_file_name_spark_percent_encodes(self, spark, tmp_path):
        """Spark reports ``_metadata.file_name`` URI-encoded; a DV on a
        block file whose name has a space, a percent sign and a quote
        still finds and drops its rows, below and above 4,096
        positions."""
        import pyarrow as pa

        root = tmp_path / "t"
        store = ManifestStore(str(root))
        path = root / "data" / "c000001" / "blk 50%'s.parquet"
        path.parent.mkdir(parents=True)
        pq.write_table(pa.Table.from_pandas(_orders(6000), preserve_index=False), path)
        schema = spark.read.parquet(str(path)).schema.json()
        store.commit(None, [str(path)], [], schema_json=schema)
        model = DuckModel(_orders(6000))
        for pred in (f"{KEY} < 10", f"{KEY} BETWEEN 1000 AND 5999"):
            rep = delete_where_mor(spark, store, pred)
            model.delete(pred)
            assert rep["mode"] == "mor"
            assert states_equal(_state(spark, store), model.state()), pred
        assert _dv_rows(store) == 5010

    def test_sequence_past_the_4096_position_switch(self, spark, tmp_path):
        """More than 4,096 DV positions make the read an anti-join; the
        MoR and CoW verbs that read through it must still match the
        model after every step."""
        pdf = _orders(6000)
        store = _store(spark, tmp_path / "t", pdf, 1000)
        model = DuckModel(pdf)

        def step(verb, *args, model_op):
            verb(spark, store, *args)
            model_op()
            assert states_equal(_state(spark, store), model.state()), verb.__name__

        step(delete_where_mor, f"{KEY} < 3000",
             model_op=lambda: model.delete(f"{KEY} < 3000"))
        assert _dv_rows(store) == 3000
        step(delete_where_mor, f"{KEY} BETWEEN 3000 AND 4499",
             model_op=lambda: model.delete(f"{KEY} BETWEEN 3000 AND 4499"))
        assert _dv_rows(store) == 4500
        plan = store.read(spark)._jdf.queryExecution().optimizedPlan().toString()
        assert "LeftAnti" in plan

        batch = _orders(6100).iloc[4400:6100].assign(o_orderstatus="M")
        step(merge_mor, spark.createDataFrame(batch), KEY,
             model_op=lambda: model.merge(batch))
        step(update_where_mor, "o_custkey = 3", {"o_orderstatus": "'Z'"},
             model_op=lambda: model.update("o_custkey = 3", "o_orderstatus", "'Z'"))
        assert _dv_rows(store) > 4096
        step(delete_where_cow, "o_totalprice > 2000.0",
             model_op=lambda: model.delete("o_totalprice > 2000.0"))


class TestBatchCastToManifestTypes:
    """A ``k long, v long`` batch into a ``k int, v int`` table."""

    @pytest.fixture
    def store(self, spark, tmp_path):
        store = ManifestStore(str(tmp_path / "t"))
        base = spark.range(0, 20).selectExpr(
            "CAST(id AS INT) AS k", "CAST(id * 10 AS INT) AS v"
        )
        init_manifest_table(spark, store, base.coalesce(1), block_rows=10)
        return store

    @staticmethod
    def _run(spark, store, verb: str, batch):
        if verb == "append_cow":
            return append_cow(spark, store, batch)
        return {"merge_cow": merge_cow, "merge_mor": merge_mor}[verb](
            spark, store, batch, "k"
        )

    @pytest.mark.parametrize("verb", ["merge_cow", "merge_mor", "append_cow"])
    def test_wider_batch_commits_readable_version(self, spark, store, verb):
        batch = spark.createDataFrame([(5, 500), (30, 300)], "k long, v long")
        self._run(spark, store, verb, batch)
        df = store.read(spark)
        assert df.dtypes == [("k", "int"), ("v", "int")]
        base = [(i, i * 10) for i in range(20)]
        if verb == "append_cow":
            want = base + [(5, 500), (30, 300)]
        else:
            want = [r for r in base if r[0] != 5] + [(5, 500), (30, 300)]
        assert sorted(tuple(r) for r in df.collect()) == sorted(want)
        for f in store.files_for():
            types = {c.name: c.physical_type for c in pq.ParquetFile(f).schema}
            assert types == {"k": "INT32", "v": "INT32"}, f

    @pytest.mark.parametrize("verb", ["merge_cow", "merge_mor", "append_cow"])
    def test_value_that_does_not_fit_raises_before_commit(self, spark, store, verb):
        batch = spark.createDataFrame([(5, 1 << 40)], "k long, v long")
        before = store.latest()
        with pytest.raises(Exception, match="CAST_OVERFLOW"):
            self._run(spark, store, verb, batch)
        assert store.latest() == before
        assert store.read(spark).count() == 20


def test_storage_reads_never_infer_schemas():
    """Manifest files are read with the schema the manifest stores; a
    ``mergeSchema`` read under ``storage/`` would run an inference job
    per read."""
    hits = [
        f"{p.relative_to(PKG)}:{i}"
        for p in sorted((PKG / "storage").rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "mergeSchema" in line
    ]
    assert hits == []
