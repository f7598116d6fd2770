"""Full-stack engine wiring over a microblock layout, and Z-ordered
compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from columnar_database_project_spark.catalog import load_table
from columnar_database_project_spark.engine import build_full_stack
from columnar_database_project_spark.sources.microblock import MicroBlockWriter


@pytest.fixture(scope="module")
def block_layout(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("blocks") / "lineitem")
    li = load_table(spark, sf_dir, "lineitem")
    MicroBlockWriter(block_rows=500).write(
        li.orderBy("l_orderkey", "l_linenumber"), out
    )
    return out


class TestFullStack:
    def test_wiring_mirrors_reference_entry_point(
        self, spark, block_layout, tmp_path
    ):
        engine, service = build_full_stack(
            spark,
            block_layout,
            table_name="mytable",
            log_path=str(tmp_path / "log.jsonl"),
        )
        assert service is None   # no scheduler supplied
        out = engine.query(
            "SELECT count(*) AS c FROM mytable WHERE l_quantity BETWEEN 18 AND 24"
        ).collect()
        assert out[0]["c"] > 0
        assert engine.logger.block_sequence()
        assert len(engine.history) > 0

    def test_interactive_shell_smoke(self, spark, block_layout, tmp_path):
        # Reference front-door parity (run_with_prefetch_loop.py:54-61):
        # two statements through the REPL loop, access log populated,
        # bad SQL doesn't kill the loop.
        import sys

        sys.path.insert(0, "tools")
        from tools.shell import run_shell

        engine, _ = build_full_stack(
            spark,
            block_layout,
            table_name="mytable",
            log_path=str(tmp_path / "shell_log.jsonl"),
        )
        lines = iter(
            [
                "SELECT count(*) AS c FROM mytable WHERE l_quantity < 10",
                "SELECT NOT VALID SQL !!",
                r"\stats",
                r"\explain SELECT count(*) AS c FROM mytable"
                r" WHERE l_quantity BETWEEN 18 AND 24",
                "SELECT max(l_orderkey) AS m FROM mytable "
                "WHERE l_quantity BETWEEN 18 AND 24",
                r"\q",
            ]
        )
        outputs: list[str] = []
        n = run_shell(engine, input_fn=lambda _: next(lines),
                      output_fn=lambda s: outputs.append(str(s)))
        assert n == 2                       # two SQL statements ran
        assert any("error:" in o for o in outputs)   # bad SQL survived
        assert any("capacity" in o for o in outputs)  # \stats answered
        assert any("blocks_predicted" in o for o in outputs)  # \explain
        assert len(engine.logger.block_sequence()) > 0


def _compacted(spark, df, path, sort_by, zorder):
    """``df`` committed as a manifest table, then re-clustered on
    ``sort_by`` by ``compact_manifest`` in 500-row blocks."""
    from columnar_database_project_spark.storage.cow import (
        compact_manifest,
        init_manifest_table,
    )
    from columnar_database_project_spark.storage.manifests import ManifestStore

    store = ManifestStore(path)
    init_manifest_table(spark, store, df)
    compact_manifest(spark, store, block_rows=500, sort_by=sort_by, zorder=zorder)
    return store


class TestZOrder:
    def test_zorder_prunes_box_predicates_on_both_dims(
        self, spark, sf_dir, tmp_path_factory
    ):
        """Z-ordered layout must keep zone maps selective on BOTH
        columns of a box predicate; a single-column sort only helps its
        own dimension. Compare pruned fractions on identical data."""
        from columnar_database_project_spark.plans.predicate import And, Between
        from columnar_database_project_spark.sources.index import MicroBlockIndex

        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        )
        base = tmp_path_factory.mktemp("zorder")
        z = _compacted(
            spark, li, str(base / "z"), ["l_quantity", "l_extendedprice"], True
        )
        # baseline: globally sorted on l_quantity only
        s = _compacted(spark, li, str(base / "sorted_one_dim"), ["l_quantity"], False)

        # the claim: z-order keeps zone maps selective on BOTH
        # dimensions; the single-column sort only on its own key.
        q_pred = Between("l_quantity", 10, 15)
        p_pred = Between("l_extendedprice", 20000.0, 30000.0)
        zi = MicroBlockIndex.for_version(z.snapshot())
        si = MicroBlockIndex.for_version(s.snapshot())

        def frac(idx, pred):
            return len(idx.candidate_blocks(pred)) / max(1, idx.num_blocks)

        # sorted-by-quantity prunes quantity but NOT price; z prunes both
        assert frac(si, p_pred) > 0.9          # non-sort key: no pruning
        assert frac(zi, p_pred) < 0.6          # z: price still prunes
        assert frac(zi, q_pred) < 0.6          # z: quantity still prunes
        # on the 2-D box, z must be at least as selective as its worst dim
        pred = And(q_pred, p_pred)
        assert frac(zi, pred) <= min(frac(zi, q_pred), frac(zi, p_pred))
        # and the pruned scans agree with the ground truth count
        box = F.col("l_quantity").between(10, 15) & F.col(
            "l_extendedprice"
        ).between(20000.0, 30000.0)
        assert z.read(spark).filter(box).count() == li.filter(box).count()

    def test_zorder_layout_independent_of_session_history(
        self, spark, sf_dir, tmp_path_factory
    ):
        """Spark seeds its range-bound sample with the RDD id; the
        z-ordered blocks must not change with how many RDDs the session
        made before the write, and the sampling conf is restored."""
        import pyarrow.parquet as pq

        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        )
        base = tmp_path_factory.mktemp("zorder_history")
        conf = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
        conf_before = spark.conf.get(conf)

        def layout(shift):
            for _ in range(shift):
                spark.sparkContext.parallelize([1])
            store = _compacted(
                spark, li, str(base / f"z{shift}"),
                ["l_quantity", "l_extendedprice"], True,
            )
            out = []
            for f in store.files_for():
                t = pq.read_table(f, columns=["l_quantity", "l_extendedprice"])
                out.append(
                    (
                        t.num_rows,
                        min(t["l_quantity"].to_pylist()),
                        max(t["l_quantity"].to_pylist()),
                        min(t["l_extendedprice"].to_pylist()),
                        max(t["l_extendedprice"].to_pylist()),
                    )
                )
            return sorted(out)

        first = layout(0)
        assert len(first) > 1
        for shift in (1, 2, 5, 7):
            assert layout(shift) == first, shift
        assert spark.conf.get(conf) == conf_before
