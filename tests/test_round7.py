"""Round-7 additions: freshness-token recursion, funnel NULL
alignment, store-backed IVF-PQ parity."""

from __future__ import annotations

import os

import pandas as pd


# ------------------------------------------------- file_freshness


class TestFileFreshnessRecursion:
    def test_inplace_part_rewrite_changes_token(self, tmp_path):
        """An in-place overwrite of an existing part file inside a
        <name>.parquet DIRECTORY changes neither the table dir's nor
        the subdir's mtime reliably — the token must recurse to the
        part files themselves or caches serve stale results."""
        from columnar_database_project_spark.catalog import file_freshness

        tdir = tmp_path / "tables"
        pdir = tdir / "t.parquet"
        pdir.mkdir(parents=True)
        part = pdir / "part-00000.snappy.parquet"
        part.write_bytes(b"v1-payload")
        tok1 = file_freshness(str(tdir))
        assert tok1 and tok1 != ("missing",)

        # rewrite the part IN PLACE (same name, same dir) with content
        # of a different size — dir mtimes untouched
        dir_mtime = os.stat(pdir).st_mtime_ns
        part.write_bytes(b"v2-payload-different-size")
        os.utime(pdir, ns=(dir_mtime, dir_mtime))  # freeze dir mtime
        tok2 = file_freshness(str(tdir))
        assert tok2 != tok1

    def test_flat_file_and_deterministic(self, tmp_path):
        from columnar_database_project_spark.catalog import file_freshness

        f = tmp_path / "flat.parquet"
        f.write_bytes(b"x")
        assert file_freshness(str(tmp_path)) == file_freshness(str(tmp_path))
        st = os.stat(f)
        assert file_freshness(str(f)) == (st.st_mtime_ns, st.st_size)


# ------------------------------------------------- funnel NULL semantics


class TestFunnelWindowedNullAlignment:
    def test_zero_step1_yields_null_conversions(self, spark, tmp_path):
        """With no qualifying step-1 users the oracle's n2/n1 divides
        by zero → NULL in DuckDB; the Spark side must emit NULL (not
        0.0) for steps 2-3 and the literal 1.0 for step 1."""
        from columnar_database_project_spark.operators.events import (
            q_events_funnel_windowed,
        )

        d = str(tmp_path / "sf")
        os.makedirs(d)
        pdf = pd.DataFrame(
            {
                "event_id": [1, 2],
                "user_id": [1, 1],
                "event_type": ["click", "purchase"],  # no 'view' at all
                "ts": pd.to_datetime([1000, 2000], unit="s"),
                "value": [1.0, 2.0],
            }
        )
        spark.createDataFrame(pdf).write.parquet(os.path.join(d, "events.parquet"))
        rows = {
            r["step"]: r for r in q_events_funnel_windowed(spark, d).collect()
        }
        assert rows[1]["n_users"] == 0 and rows[1]["conversion"] == 1.0
        assert rows[2]["conversion"] is None
        assert rows[3]["conversion"] is None


# ------------------------------------------- store-backed IVF-PQ parity


class TestIvfPqStoreRegistryParity:
    def test_store_matches_batch(self, spark, sf_dir):
        from columnar_database_project_spark.operators.similarity import (
            q_sim_ivfpq_store_topk,
            q_sim_ivfpq_topk,
        )

        batch = {
            (r["q_id"], r["rank"]): (r["neighbor_id"], r["adist"])
            for r in q_sim_ivfpq_topk(spark, sf_dir).collect()
        }
        store = {
            (r["q_id"], r["rank"]): (r["neighbor_id"], r["adist"])
            for r in q_sim_ivfpq_store_topk(spark, sf_dir).collect()
        }
        assert batch == store


# ---------------------------------------------------------- ORC backend


class TestOrcMicroblocks:
    """BASELINE's approach line says "columnar Parquet/ORC"; the ORC
    half: MicroBlockWriter(format="orc") + catalog fallback, proven by
    running EXISTING relational queries over an ORC-only table dir and
    comparing against the same queries over the parquet twin."""

    @staticmethod
    def _orc_twin(spark, sf_dir, tmp_path_factory, tables):
        from columnar_database_project_spark.catalog import load_table
        from columnar_database_project_spark.sources.microblock import (
            MicroBlockWriter,
        )

        d = str(tmp_path_factory.mktemp("orc_sf"))
        w = MicroBlockWriter(block_rows=5000, format="orc")
        for t in tables:
            w.write(load_table(spark, sf_dir, t), os.path.join(d, f"{t}.orc"))
        return d

    def test_queries_match_parquet_twin(self, spark, sf_dir, tmp_path_factory):
        from columnar_database_project_spark.operators.relational import (
            q1_pricing_summary,
            q3_shipping_priority,
            q_filter_between,
            q_groupby_having,
        )

        orc_dir = self._orc_twin(
            spark, sf_dir, tmp_path_factory,
            ["lineitem", "orders", "customer"],
        )
        for q in (
            q1_pricing_summary,
            q3_shipping_priority,
            q_filter_between,
            q_groupby_having,
        ):
            got = q(spark, orc_dir).toPandas()
            want = q(spark, sf_dir).toPandas()
            got = got.sort_values(list(got.columns)).reset_index(drop=True)
            want = want.sort_values(list(want.columns)).reset_index(drop=True)
            pd.testing.assert_frame_equal(got, want, check_dtype=False)

    def test_block_equals_file_layout(self, spark, sf_dir, tmp_path_factory):
        """ORC microblocks keep block = file: N rows / block_rows files,
        each one stripe."""
        from columnar_database_project_spark.catalog import load_table
        from columnar_database_project_spark.sources.microblock import (
            MicroBlockWriter,
        )

        li = load_table(spark, sf_dir, "lineitem")
        n = li.count()
        d = str(tmp_path_factory.mktemp("orc_blocks") / "li.orc")
        MicroBlockWriter(block_rows=1000, format="orc").write(
            li.repartition(1), d
        )
        files = [
            f for f in os.listdir(d)
            if f.startswith("part-") and not f.endswith(".crc")
        ]
        assert len(files) == -(-n // 1000)  # ceil division
        assert spark.read.orc(d).count() == n

    def test_bad_format_rejected(self):
        from columnar_database_project_spark.sources.microblock import (
            MicroBlockWriter,
        )

        import pytest

        with pytest.raises(ValueError):
            MicroBlockWriter(format="avro")


# ------------------------------ IVF-PQ store lifecycle + pruning plan


class TestIvfPqStoreLifecycle:
    """The streaming store's 100 TB claim, proven rather than stated:
    probed cells become PARTITION filters (directory pruning at
    listing time), also on a store that per-drop appends have
    fragmented."""

    @staticmethod
    def _build_fragmented_store(spark, sf_dir, base):
        from columnar_database_project_spark.catalog import load_table
        from columnar_database_project_spark.streaming.vectors import (
            index_vectors_stream,
            read_vector_stream,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        drops = os.path.join(base, "drops")
        index_path = os.path.join(base, "index")
        ckpt = os.path.join(base, "ckpt")
        # two drop ROUNDS through one checkpoint: the file source
        # processes only the new files each time, so every cell dir
        # accumulates one append per round -> fragmentation
        half1 = emb.filter("vec_id % 2 = 0")
        half2 = emb.filter("vec_id % 2 = 1")
        for i, half in enumerate((half1, half2)):
            half.repartition(2).write.mode("append").parquet(drops)
            q = index_vectors_stream(
                read_vector_stream(spark, drops), index_path, ckpt,
                codebook_sf_dir=sf_dir,
            )
            q.awaitTermination()
        return index_path

    def test_partition_filter_prunes_at_listing(self, spark, sf_dir, tmp_path_factory):
        from columnar_database_project_spark.streaming.vectors import (
            search_index_store,
        )

        base = str(tmp_path_factory.mktemp("ivfpq_life"))
        index_path = self._build_fragmented_store(spark, sf_dir, base)
        df = search_index_store(spark, index_path, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the cell predicate must appear as a PartitionFilter (listing-
        # time pruning), NOT as a PushedFilter/post-scan filter
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert pf and "cell" in pf[0] and "IN" in pf[0].upper()


# --------------------- result-cache invalidation on in-place rewrite


class TestResultCacheInplaceRewriteInvalidation:
    def test_part_rewrite_inside_dir_invalidates(self, spark, tmp_path):
        """Engine-level form of the freshness-recursion fix: the
        result cache's catalog token must change when a part file
        INSIDE a directory-backed <name>.parquet is rewritten in
        place (same file name, same dir mtime) — previously such a
        rewrite was invisible and query_cached served stale rows."""
        import shutil

        from columnar_database_project_spark.engine import MicroBlockEngine

        d = str(tmp_path / "tables")
        os.makedirs(d)
        tdir = os.path.join(d, "t.parquet")
        pdf1 = pd.DataFrame({"k": [1, 2, 3], "v": [10.0, 20.0, 30.0]})
        spark.createDataFrame(pdf1).repartition(1).write.parquet(tdir)
        eng = MicroBlockEngine(spark, table_dir=d)
        sql = "SELECT CAST(sum(v) AS DOUBLE) AS s FROM t"
        assert float(eng.query_cached(sql)["s"][0]) == 60.0

        # rewrite THE part file in place: write a replacement table
        # elsewhere, copy its part over the existing part file name,
        # freeze the directory mtimes
        part = next(
            f for f in os.listdir(tdir)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        alt = str(tmp_path / "alt.parquet")
        spark.createDataFrame(
            pd.DataFrame({"k": [1, 2, 3], "v": [100.0, 200.0, 300.0]})
        ).repartition(1).write.parquet(alt)
        alt_part = next(
            f for f in os.listdir(alt)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        dir_mtime = os.stat(tdir).st_mtime_ns
        shutil.copyfile(os.path.join(alt, alt_part), os.path.join(tdir, part))
        for crc in list(os.listdir(tdir)):
            if crc.endswith(".crc"):
                os.remove(os.path.join(tdir, crc))
        os.utime(tdir, ns=(dir_mtime, dir_mtime))

        spark.catalog.refreshByPath(tdir)  # drop Spark's own file-index cache
        assert float(eng.query_cached(sql)["s"][0]) == 600.0  # not stale
