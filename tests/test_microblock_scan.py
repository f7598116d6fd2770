"""Row-range scan (reference S8, fixed) + full-stack engine wiring +
stateful streaming sessionization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from columnar_database_project_spark.catalog import load_table
from columnar_database_project_spark.engine import build_full_stack
from columnar_database_project_spark.plans.verify import pushed_filters
from columnar_database_project_spark.sources.index import MicroBlockIndex
from columnar_database_project_spark.sources.microblock import (
    ROW_ID_COL,
    scan_range,
    write_with_row_ids,
)


@pytest.fixture(scope="module")
def rid_layout(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("rid") / "lineitem_rid")
    li = load_table(spark, sf_dir, "lineitem")
    write_with_row_ids(li, out, order_by=["l_orderkey", "l_linenumber"],
                       block_rows=500, num_partitions=4)
    return out


class TestScanRange:
    def test_exact_rows(self, spark, rid_layout):
        df = scan_range(spark, rid_layout, 100, 199)
        rows = df.select(ROW_ID_COL).collect()
        got = sorted(r[ROW_ID_COL] for r in rows)
        assert got == list(range(100, 200))

    def test_filter_pushed_to_scan(self, spark, rid_layout):
        df = scan_range(spark, rid_layout, 100, 199)
        assert any(ROW_ID_COL in f for f in pushed_filters(df))

    def test_range_prunes_blocks(self, spark, rid_layout):
        idx = MicroBlockIndex.build(rid_layout, "rid")
        from columnar_database_project_spark.plans.predicate import Between

        candidates = idx.candidate_blocks(Between(ROW_ID_COL, 100, 199))
        assert len(candidates) == 1          # 500-row blocks: one covers it
        assert idx.num_blocks >= 10

    def test_cross_block_range(self, spark, rid_layout):
        df = scan_range(spark, rid_layout, 450, 549)   # spans two blocks
        assert df.count() == 100

    def test_rids_dense_ordered_multipartition(self, spark, sf_dir, rid_layout):
        # Scale path: ids come from partition offsets + local index
        # over 4 range partitions — no repartition(1), no global
        # window — and must still be dense 0..n-1 in order_by order.
        import os

        df = spark.read.parquet(rid_layout)
        n = load_table(spark, sf_dir, "lineitem").count()
        rows = df.select(ROW_ID_COL, "l_orderkey", "l_linenumber").collect()
        assert sorted(r[ROW_ID_COL] for r in rows) == list(range(n))
        by_rid = sorted(rows, key=lambda r: r[ROW_ID_COL])
        keys = [(r["l_orderkey"], r["l_linenumber"]) for r in by_rid]
        assert keys == sorted(keys)
        # written by >1 task (multiple part-file task prefixes)
        prefixes = {
            f.split("-")[1]
            for f in os.listdir(rid_layout)
            if f.startswith("part-")
        }
        assert len(prefixes) > 1


class TestFullStack:
    def test_wiring_mirrors_reference_entry_point(
        self, spark, rid_layout, tmp_path
    ):
        engine, service = build_full_stack(
            spark,
            rid_layout,
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

    def test_interactive_shell_smoke(self, spark, rid_layout, tmp_path):
        # Reference front-door parity (run_with_prefetch_loop.py:54-61):
        # two statements through the REPL loop, access log populated,
        # bad SQL doesn't kill the loop.
        import sys

        sys.path.insert(0, "tools")
        from tools.shell import run_shell

        engine, _ = build_full_stack(
            spark,
            rid_layout,
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


class TestStatefulStreaming:
    def test_sessionize_stateful_counts(self, spark, sf_dir, tmp_path_factory):
        from columnar_database_project_spark.streaming.events import (
            read_event_stream,
            run_to_memory,
            sessionize_stateful,
        )

        out = str(tmp_path_factory.mktemp("ss") / "events")
        ev = load_table(spark, sf_dir, "events")
        # single file → single batch; emit_open gives the running view
        # (closed + in-progress sessions), so every event is visible
        ev.repartition(1).write.parquet(out)
        stream = read_event_stream(spark, out)
        q = run_to_memory(
            sessionize_stateful(stream, watermark="365 days", emit_open=True),
            "t_sess",
            "update",
        )
        try:
            got = spark.sql(
                "SELECT sum(n_events) AS total FROM t_sess"
            ).collect()[0]["total"]
            # every event lands in exactly one session
            assert got == ev.count()
            n_sessions = spark.sql(
                "SELECT count(*) AS c FROM (SELECT DISTINCT user_id, session_id FROM t_sess)"
            ).collect()[0]["c"]
            # matches the batch sessionizer's session count
            from columnar_database_project_spark.operators.events import (
                q_events_sessionize,
            )

            batch_sessions = q_events_sessionize(spark, sf_dir).count()
            assert n_sessions == batch_sessions
        finally:
            q.stop()


class TestZOrder:
    def test_zorder_prunes_box_predicates_on_both_dims(
        self, spark, sf_dir, tmp_path_factory
    ):
        """Z-ordered layout must keep zone maps selective on BOTH
        columns of a box predicate; a single-column sort only helps its
        own dimension. Compare pruned fractions on identical data."""
        from columnar_database_project_spark.catalog import load_table
        from columnar_database_project_spark.plans.predicate import And, Between
        from columnar_database_project_spark.sources.index import MicroBlockIndex
        from columnar_database_project_spark.sources.microblock import (
            write_with_row_ids,
            write_zordered,
        )

        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        )
        base = tmp_path_factory.mktemp("zorder")
        z_path = str(base / "z")
        s_path = str(base / "sorted_one_dim")
        write_zordered(
            li, z_path, cols=("l_quantity", "l_extendedprice"), block_rows=2000
        )
        # baseline: globally sorted on l_quantity only
        write_with_row_ids(
            li, s_path, order_by=["l_quantity"], block_rows=2000
        )

        # the claim: z-order keeps zone maps selective on BOTH
        # dimensions; the single-column sort only on its own key.
        q_pred = Between("l_quantity", 10, 15)
        p_pred = Between("l_extendedprice", 20000.0, 30000.0)
        zi = MicroBlockIndex.build(z_path, "z")
        si = MicroBlockIndex.build(s_path, "s")

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
        truth = li.filter(
            F.col("l_quantity").between(10, 15)
            & F.col("l_extendedprice").between(20000.0, 30000.0)
        ).count()
        got = (
            spark.read.parquet(z_path)
            .filter(
                F.col("l_quantity").between(10, 15)
                & F.col("l_extendedprice").between(20000.0, 30000.0)
            )
            .count()
        )
        assert got == truth

    def test_zorder_layout_independent_of_session_history(
        self, spark, sf_dir, tmp_path_factory
    ):
        """Spark seeds its range-bound sample with the RDD id; the
        z-ordered blocks must not change with how many RDDs the session
        made before the write, and the sampling conf is restored."""
        import pyarrow.parquet as pq

        from columnar_database_project_spark.catalog import load_table
        from columnar_database_project_spark.sources.microblock import (
            write_zordered,
        )
        from columnar_database_project_spark.storage.manifests import (
            list_block_files,
        )

        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        )
        base = tmp_path_factory.mktemp("zorder_history")
        conf = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
        conf_before = spark.conf.get(conf)

        def layout(shift):
            for _ in range(shift):
                spark.sparkContext.parallelize([1])
            path = str(base / f"z{shift}")
            write_zordered(
                li, path, cols=("l_quantity", "l_extendedprice"), block_rows=2000
            )
            out = []
            for f in list_block_files(path):
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


class TestHivePartitioning:
    def test_partition_filter_prunes_at_metadata_time(
        self, spark, sf_dir, tmp_path_factory
    ):
        from columnar_database_project_spark.catalog import load_table
        from columnar_database_project_spark.sources.microblock import (
            write_hive_partitioned,
        )

        path = str(tmp_path_factory.mktemp("hive") / "documents")
        docs = load_table(spark, sf_dir, "documents")
        write_hive_partitioned(docs, path, ["lang"])
        out = spark.read.parquet(path)
        langs = [r["lang"] for r in out.select("lang").distinct().collect()]
        assert len(langs) > 1  # the split actually partitioned something
        one = out.filter(F.col("lang") == langs[0])
        plan = one._jdf.queryExecution().executedPlan().toString()
        # the filter lands in PartitionFilters (metadata pruning), not
        # in PushedFilters (row-group stats pruning)
        assert "PartitionFilters" in plan and "lang" in plan.split(
            "PartitionFilters"
        )[1].split("]")[0]
        # rows are intact (partition column restored from the path)
        assert one.count() == docs.filter(F.col("lang") == langs[0]).count()
        # layout proof: one directory per partition value, so the
        # PartitionFilters above provably maps to directory-level skips
        n_dirs = len([x for x in __import__("os").listdir(path)
                      if x.startswith("lang=")])
        assert n_dirs == len(langs)  # one directory per partition value
