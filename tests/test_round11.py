"""Round-11 fixes: prefetch-economics attribution (ADVICE r10),
layout-override freshness (ADVICE r10), and the slow-store prefetch
gate flip (VERDICT r10 #3)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from columnar_database_project_spark.ml.prefetch import PrefetchEconomics


class TestEconomicsAttribution:
    def test_miss_on_pending_discards_claim(self):
        # prefetch block 1, but it gets evicted before the foreground
        # read → the miss settles the claim as WASTED; when the
        # foreground's own read caches it and the next access hits,
        # that hit must NOT be credited to the prefetcher.
        econ = PrefetchEconomics(warmup_issues=1)
        econ.note_prefetch(1, 0.1)
        econ.note_access(1, hit=False, sec=0.12)   # evicted → miss
        assert econ.prefetch_hits == 0
        assert 1 not in econ.pending
        econ.note_access(1, hit=True, sec=0.02)    # foreground-cached hit
        assert econ.prefetch_hits == 0             # not mis-credited

    def test_hit_still_credited(self):
        econ = PrefetchEconomics(warmup_issues=1)
        econ.note_prefetch(7, 0.1)
        econ.note_access(7, hit=True, sec=0.02)
        assert econ.prefetch_hits == 1
        assert 7 not in econ.pending

    def test_pending_bounded_fifo(self):
        econ = PrefetchEconomics(warmup_issues=1, max_pending=3)
        for b in range(5):
            econ.note_prefetch(b, 0.1)
        assert len(econ.pending) == 3
        assert list(econ.pending) == [2, 3, 4]     # oldest claims dropped
        # a dropped claim's later hit is not credited
        econ.note_access(0, hit=True, sec=0.02)
        assert econ.prefetch_hits == 0

    def test_reissue_refreshes_age(self):
        econ = PrefetchEconomics(warmup_issues=1, max_pending=2)
        econ.note_prefetch(1, 0.1)
        econ.note_prefetch(2, 0.1)
        econ.note_prefetch(1, 0.1)                 # re-issue: 1 is newest
        econ.note_prefetch(3, 0.1)                 # evicts 2, not 1
        assert list(econ.pending) == [1, 3]

    def test_concurrent_updates_do_not_lose_counts(self):
        import threading

        econ = PrefetchEconomics(warmup_issues=1, max_pending=10_000)
        n = 2000

        def issuer():
            for i in range(n):
                econ.note_prefetch(i, 0.1)

        def accessor():
            for i in range(n):
                econ.note_access(i + n, hit=True, sec=0.02)

        ts = [threading.Thread(target=issuer), threading.Thread(target=accessor)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert econ.issued == n
        assert len(econ.pending) == n


class TestGateFlipThreshold:
    """Pins the regime boundary of the economics gate (VERDICT r10
    #3): the gate issues iff the per-prefetch read cost is below
    precision × (miss − hit). On fast local disk a serial background
    read costs about as much as the demand miss it might save
    (read ≈ miss, precision < 1 → always negative, the measured r10
    outcome). Against a slow store with concurrent issue, the
    amortized per-GET cost drops by the issue width while the demand
    miss still pays the full round trip — the same formula crosses
    zero. The bench slow_store leg measures this end-to-end; here the
    threshold itself is pinned."""

    MISS, HIT, PRECISION = 0.25, 0.04, 0.25   # slow-store-like regime

    def _econ(self, read_sec: float) -> PrefetchEconomics:
        econ = PrefetchEconomics(warmup_issues=1)
        n = 20
        for i in range(n):
            econ.note_prefetch(i, read_sec)
        for i in range(int(self.PRECISION * n)):
            econ.note_access(i, hit=True, sec=self.HIT)
        econ.note_access(999, hit=False, sec=self.MISS)
        econ.hit_sec.update(self.HIT)
        return econ

    def test_flip_threshold_is_precision_times_saving(self):
        threshold = self.PRECISION * (self.MISS - self.HIT)   # 0.0525
        below = self._econ(threshold - 0.01)
        above = self._econ(threshold + 0.01)
        assert below.projected_net_sec_per_prefetch() > 0
        assert above.projected_net_sec_per_prefetch() < 0

    def test_gate_issues_below_threshold_suppresses_above(self):
        from tests.test_round10 import _service

        threshold = self.PRECISION * (self.MISS - self.HIT)
        svc = _service(self._econ(threshold - 0.01))
        assert svc.run_once() == 2            # slow store + overlap: pays
        svc = _service(self._econ(threshold + 0.01))
        assert svc.run_once() == 0            # serial regime: refuses
        assert svc.gate_skips == 1

    def test_concurrent_issue_amortizes_read_cost(self):
        """The mechanism that moves a deployment across the threshold:
        width-N issue divides the observed per-prefetch wall by ~N."""
        import time

        from columnar_database_project_spark.ml.prefetch import (
            PrefetchService,
        )
        from tests.test_round10 import (
            _StubCache,
            _StubHistory,
            _StubScheduler,
        )

        class _SlowStub:
            def prefetch_block(self, block_id):
                time.sleep(0.1)
                return True

            def prefetch_many(self, block_ids):
                return [b for b in block_ids if self.prefetch_block(b)]

        suggestions = [(i, 0.9) for i in range(10, 14)]
        econ_serial = PrefetchEconomics(warmup_issues=1)
        serial = PrefetchService(
            _StubScheduler(suggestions), _SlowStub(), _StubHistory(),
            _StubCache(), economics=econ_serial,
        )
        assert serial.run_once() == 4
        econ_wide = PrefetchEconomics(warmup_issues=1)
        wide = PrefetchService(
            _StubScheduler(suggestions), _SlowStub(), _StubHistory(),
            _StubCache(), economics=econ_wide, concurrent_issue=4,
        )
        assert wide.run_once() == 4
        assert econ_serial.read_sec.value >= 0.1          # full latency
        assert econ_wide.read_sec.value < 0.06            # amortized
        assert wide.prefetch_read_sec < serial.prefetch_read_sec / 2


class TestLayoutOverrideFreshness:
    def test_stale_override_falls_through(self, spark, tmp_path):
        from columnar_database_project_spark.catalog import (
            clear_layout_overrides,
            load_table,
            set_layout_override,
        )

        d = str(tmp_path / "tables")
        os.makedirs(d)
        src = os.path.join(d, "t.parquet")
        spark.range(5).withColumn("v", F.lit("old")).coalesce(
            1
        ).write.parquet(src)
        try:
            override = (
                spark.range(5).withColumn("v", F.lit("override"))
            )
            set_layout_override(spark, d, "t", override)
            assert (
                load_table(spark, d, "t").select("v").first()[0]
                == "override"
            )
            # regenerate the source in place — the derived override is
            # now stale and must NOT be served (ADVICE r10: catalog.py
            # bypassed file_freshness for overrides)
            spark.range(5).withColumn("v", F.lit("new")).coalesce(
                1
            ).write.mode("overwrite").parquet(src)
            assert load_table(spark, d, "t").select("v").first()[0] == "new"
        finally:
            clear_layout_overrides(spark)

    def test_derived_leg_invalidates_on_either_parent(
        self, spark, sf_dir, tmp_path
    ):
        """The denorm orders⋈customer leg must go stale when EITHER
        parent regenerates — its freshness token carries both."""
        import shutil

        from columnar_database_project_spark.catalog import (
            clear_layout_overrides,
            has_layout_override,
        )
        from columnar_database_project_spark.sources.bucketed import (
            DENORM_NAME,
            materialize_fact_layout,
        )

        d = str(tmp_path / "tables")
        shutil.copytree(sf_dir, d)
        base = str(tmp_path / "layout")
        named: dict = {}
        try:
            named = materialize_fact_layout(spark, d, base, n_buckets=4)
            assert has_layout_override(spark, d, DENORM_NAME)
            # regenerate customer (the SECOND parent) in place
            cust = os.path.join(d, "customer.parquet")
            os.utime(cust, (os.path.getmtime(cust) + 5,) * 2)
            assert not has_layout_override(spark, d, DENORM_NAME)
        finally:
            clear_layout_overrides(spark)
            for tbl in named.values():
                spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    def test_fresh_override_served(self, spark, tmp_path):
        from columnar_database_project_spark.catalog import (
            clear_layout_overrides,
            load_table,
            set_layout_override,
        )

        d = str(tmp_path / "tables")
        os.makedirs(d)
        src = os.path.join(d, "t.parquet")
        spark.range(3).write.parquet(src)
        try:
            set_layout_override(
                spark, d, "t", spark.range(3).withColumn("x", F.lit(1))
            )
            assert "x" in load_table(spark, d, "t").columns
        finally:
            clear_layout_overrides(spark)
