"""Round-12 regression tests for the r11 ADVICE defects:

- ``_region_nation_keys`` must serve an ORC-only table dir (it
  previously hard-required ``nation.parquet``/``region.parquet``).
- ``streaming.vectors._store_relation`` invalidates on an IN-PLACE
  part-file overwrite inside a cell dir (dir-stat token missed it).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from columnar_database_project_spark.catalog import load_table


class TestRegionNationOrcFallback:
    def test_orc_only_dir(self, spark, sf_dir, tmp_path):
        from columnar_database_project_spark.operators.relational import (
            _region_nation_keys,
        )

        d = str(tmp_path / "orc_dims")
        os.makedirs(d)
        for name in ("nation", "region"):
            load_table(spark, sf_dir, name).coalesce(1).write.mode(
                "overwrite"
            ).orc(os.path.join(d, f"{name}.orc"))
        want_keys, want_names = _region_nation_keys(sf_dir, "ASIA")
        keys, names = _region_nation_keys(d, "ASIA")
        assert sorted(keys) == sorted(want_keys)
        assert names == want_names

    def test_q5_runs_on_orc_only_dir(self, spark, sf_dir, tmp_path):
        from columnar_database_project_spark.operators.relational import (
            q5_local_supplier_volume,
        )

        d = str(tmp_path / "orc_sf")
        os.makedirs(d)
        for name in ("nation", "region", "customer", "supplier", "orders",
                     "lineitem"):
            load_table(spark, sf_dir, name).coalesce(1).write.mode(
                "overwrite"
            ).orc(os.path.join(d, f"{name}.orc"))
        got = sorted(
            tuple(r) for r in q5_local_supplier_volume(spark, d).collect()
        )
        want = sorted(
            tuple(r)
            for r in q5_local_supplier_volume(spark, sf_dir).collect()
        )
        assert got == want


class TestStoreRelationInPlaceOverwrite:
    def test_token_sees_part_file_rewrite(self, spark, tmp_path):
        from columnar_database_project_spark.streaming.vectors import (
            _store_relation,
        )

        p = str(tmp_path / "store")
        df = spark.range(4).select(
            F.col("id").alias("vec_id"), (F.col("id") % 2).alias("cell")
        )
        df.coalesce(1).write.partitionBy("cell").parquet(p)
        n0 = _store_relation(spark, p).count()
        assert n0 == 4
        # In-place overwrite of one cell's part file: same file NAME,
        # same cell-dir stat — only the part file's mtime/size move.
        cell0 = os.path.join(p, "cell=0")
        part = next(
            f for f in os.listdir(cell0) if f.endswith(".parquet")
        )
        tmp_out = str(tmp_path / "one")
        spark.range(10, 13).select(
            F.col("id").alias("vec_id")
        ).coalesce(1).write.mode("overwrite").parquet(tmp_out)
        new_part = next(
            f for f in os.listdir(tmp_out) if f.endswith(".parquet")
        )
        import shutil

        shutil.copyfile(
            os.path.join(tmp_out, new_part), os.path.join(cell0, part)
        )
        # drop Hadoop local-FS checksum sidecar — stale after the
        # out-of-band rewrite (the overwrite this test simulates is
        # from a non-Hadoop writer)
        crc = os.path.join(cell0, f".{part}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        n1 = _store_relation(spark, p).count()
        assert n1 == 5  # 3 rewritten rows in cell 0 + 2 in cell 1
