"""The delegated-SQL operations: registry queries, range aggregates and
merge-on-read DML, checked one by one.

Three kinds of operation:

- ``suite``: the TPC-H-shaped registry queries of ``__spark_entry__``,
  each checked against its DuckDB oracle twin (computed in set-up).
- ``shiprange``: seeded ``l_shipdate BETWEEN`` aggregates through
  ``MicroBlockEngine.query`` over a shipdate-ordered microblock copy of
  lineitem with a ``MicroBlockIndex`` attached, checked against DuckDB.
- ``dml``: range reads, deletes and merges on a merge-on-read
  manifest table built from orders, checked against a pandas shadow
  table that the same operations update outside the timed window.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

from common import OpLog, fingerprint, log, median, timed

SUITE = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q10_returned_items", "q12_late_lines_by_priority",
    "q14_promo_revenue", "q18_large_orders", "filter_between", "topk",
    "window_rank", "events_sessionize",
)
SHIP_DAY0 = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2499
SHIP_BLOCK_ROWS = 16_384          # reference microblock size: ~40 blocks
SHIP_COLUMNS = ("l_shipdate", "l_quantity", "l_extendedprice")
ORDERS_TABLE = "orders_m"
MERGE_EXISTING = 500              # matched keys per merge batch
MERGE_NEW = 500                   # inserted keys per merge batch
RECENT_SHARE = 0.6                # writes aimed at keys a merge inserted
DML_KEYS = 100                    # keys per delete or update
NARROW, WIDE, OREAD = 0.02, 0.45, 0.03   # window widths (share of the span)


@dataclass
class Op:
    kind: str          # suite | shiprange | oread | delete | merge
    name: str          # per-layer name of the operation
    arg: object        # query name, SQL text, or (lo, hi) key range


def suite_oracle(data: str, oracles: dict[str, str]) -> dict[str, tuple]:
    """Fingerprints of the DuckDB oracle results of the suite, computed on
    the first run over a dataset and kept beside it (the data is fixed)."""
    import json

    import duckdb

    path = os.path.join(data, "_suite_oracle.json")
    try:
        with open(path) as fh:
            cached = json.load(fh)
        if cached.get("sql") == {q: oracles[q] for q in SUITE}:
            return {q: (v[0], tuple(v[1]), v[2]) for q, v in cached["fingerprints"].items()}
    except (OSError, ValueError, KeyError):
        pass
    duck = duckdb.connect()
    try:
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"):
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        prints = {q: fingerprint(duck.execute(oracles[q]).fetchdf()) for q in SUITE}
    finally:
        duck.close()
    with open(path + ".tmp", "w") as fh:
        json.dump({"sql": {q: oracles[q] for q in SUITE}, "fingerprints": prints}, fh)
    os.replace(path + ".tmp", path)
    return prints


def _ship_sql(lo: np.datetime64, hi: np.datetime64) -> str:
    return ("SELECT count(*) AS n, sum(l_quantity) AS qty, "
            "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents "
            f"FROM lineitem_mb WHERE l_shipdate BETWEEN '{lo}' AND '{hi}'")


def _orders_sql(lo: int, hi: int) -> str:
    return ("SELECT count(*) AS n, sum(o_custkey) AS sc, "
            "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents "
            f"FROM {ORDERS_TABLE} WHERE o_orderkey BETWEEN {lo} AND {hi}")


def plan_passes(seed: int, shapes: list[dict[str, int]], n_orders: int) -> list[list[Op]]:
    """The seeded operation order: one list of operations per pass, with
    the counts of ``shapes[i]`` (keys ``suite`` 0/1, ``shiprange``,
    ``oread``) and its ``writes``, a sequence of "delete" and "merge".

    Every window has a fixed width, so the seed moves where an operation
    lands but not how much it reads: shipdate windows alternate narrow
    (2% of the date span) and wide (45%); order reads cover 3% of the
    keys. 60% of the writes aim at keys an earlier merge inserted.
    """
    rng = random.Random(seed)
    next_key = n_orders            # first key a merge inserts
    out = []
    for shape in shapes:
        ops: list[Op] = []
        if shape.get("suite"):
            ops += [Op("suite", f"operators.{q}", q) for q in SUITE]
        for i in range(shape.get("shiprange", 0)):
            narrow = i % 2 == 0
            width = int(SHIP_DAYS * (NARROW if narrow else WIDE))
            lo = SHIP_DAY0 + np.timedelta64(rng.randrange(0, SHIP_DAYS - width), "D")
            ops.append(Op("shiprange", "narrow" if narrow else "wide",
                          _ship_sql(lo, lo + np.timedelta64(width, "D"))))
        for _ in range(shape.get("oread", 0)):
            width = int(n_orders * OREAD)
            lo = rng.randrange(0, next_key - width)
            ops.append(Op("oread", "oread", (lo, lo + width)))
        writes = []
        for kind in shape.get("writes", ()):
            recent = next_key > n_orders and rng.random() < RECENT_SHARE
            pool_lo = n_orders if recent else 0
            if kind == "merge":
                span = min(MERGE_EXISTING, next_key - pool_lo)
                lo = rng.randrange(pool_lo, next_key - span + 1)
                writes.append(Op("merge", "merge", (lo, lo + span - 1, next_key)))
                next_key += MERGE_NEW
            else:
                lo = rng.randrange(pool_lo, max(pool_lo + 1, next_key - DML_KEYS))
                writes.append(Op(kind, kind, (lo, lo + DML_KEYS - 1)))
        rng.shuffle(ops)
        # writes keep their planned order (a merge's new keys must exist
        # before a later write aims at them); reads interleave around them
        slots = sorted(rng.sample(range(len(ops) + len(writes)), len(writes)))
        for slot, w in zip(slots, writes):
            ops.insert(slot, w)
        out.append(ops)
    return out


class SqlMix:
    """Set-up, execution and checking of the SQL operations."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.expected: dict[str, tuple] = {}
        self.dml = {"compactions": 0, "files_rewritten": 0, "files_new": 0,
                    "bytes_written": 0, "changed_rows": 0, "compacting_write_s": []}
        self.scan = {"files": 0, "bytes": 0, "predicted": []}

    # ------------------------------------------------------------- set-up
    def setup(self, planned: list[list[Op]]) -> None:
        """Catalog, expected results, the shipdate layout and its index,
        and the manifest table with its shadow."""
        import duckdb

        import __spark_entry__ as entry
        from columnar_database_project_spark.engine import MicroBlockEngine

        data = self.ctx.data_dir
        MicroBlockEngine(self.ctx.spark, table_dir=data)     # registers the catalog
        log("catalog registered")
        self.queries = entry.queries()
        with self.ctx.checking():
            self.expected.update(suite_oracle(data, entry.oracle_sql()))
            duck = duckdb.connect()
            try:
                duck.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{data}/lineitem.parquet')")
                for ops in planned:
                    for op in ops:
                        if op.kind == "shiprange":
                            sql = op.arg.replace("lineitem_mb", "lineitem")
                            self.expected[op.arg] = tuple(int(v) for v in duck.execute(sql).fetchone())
            finally:
                duck.close()
        self._setup_shiprange()
        log(f"shipdate layout written: {self.ship_index.num_blocks} blocks")
        self._setup_dml()

    def _setup_shiprange(self) -> None:
        from columnar_database_project_spark.catalog import load_table
        from columnar_database_project_spark.engine import MicroBlockEngine
        from columnar_database_project_spark.sources.index import MicroBlockIndex
        from columnar_database_project_spark.sources.microblock import MicroBlockWriter

        spark = self.ctx.spark
        path = os.path.join(self.ctx.run_dir, "lineitem_mb")
        # the columns the range aggregates read; the source is one row
        # group, so sorting its one partition orders the copy, no shuffle
        lineitem = load_table(spark, self.ctx.data_dir, "lineitem").select(*SHIP_COLUMNS)
        MicroBlockWriter(block_rows=SHIP_BLOCK_ROWS).write(
            lineitem.coalesce(1).sortWithinPartitions("l_shipdate"), path)
        self.ship_index = MicroBlockIndex.build(path, table_id="lineitem_mb")
        self.ship_engine = MicroBlockEngine(spark, index=self.ship_index)
        self.ship_engine.register("lineitem_mb", spark.read.parquet(path))

    def _setup_dml(self) -> None:
        import pyarrow.parquet as pq

        from columnar_database_project_spark.catalog import load_table
        from columnar_database_project_spark.engine import MicroBlockEngine
        from columnar_database_project_spark.storage.cow import init_manifest_table
        from columnar_database_project_spark.storage.manifests import ManifestStore

        spark = self.ctx.spark
        root = os.path.join(self.ctx.run_dir, "orders_manifest")
        shutil.rmtree(root, ignore_errors=True)
        self.store = ManifestStore(root)
        init_manifest_table(spark, self.store, load_table(spark, self.ctx.data_dir, "orders"))
        self.dml_engine = MicroBlockEngine(spark)
        self.dml_engine.register_manifest(ORDERS_TABLE, self.store)
        with self.ctx.checking():
            shadow = pq.read_table(os.path.join(self.ctx.data_dir, "orders.parquet")).to_pandas()
            self.shadow = shadow.set_index("o_orderkey", drop=False).sort_index()
        self.row_bytes = self._live_bytes() / max(1, len(self.shadow))

    def _live_bytes(self) -> int:
        return sum(os.path.getsize(f) for f in self.store.files_for())

    # ---------------------------------------------------------- execution
    def run_ops(self, ops: list[Op], log: OpLog, scan_metrics: bool) -> None:
        for op in ops:
            self.ctx.tracer.op_id += 1
            if op.kind in ("delete", "merge"):
                self._write(op, log)
            else:
                self._read(op, log, scan_metrics)

    def _read(self, op: Op, log: OpLog, scan_metrics: bool) -> None:
        tracer = self.ctx.tracer
        if op.kind == "suite":
            fn = self.queries[op.arg]
            holder = {}

            def call():
                holder["df"] = fn(self.ctx.spark, self.ctx.data_dir)
                return holder["df"].toPandas()

            with tracer.span(op.name, "operators"):
                out, dt, cpu, err = timed(call, self.ctx.cpu)
            got = fingerprint(out) if out is not None else None
            want = self.expected[op.arg]
        else:
            engine = self.ship_engine if op.kind == "shiprange" else self.dml_engine
            sql = op.arg if op.kind == "shiprange" else _orders_sql(*op.arg)
            holder = {}

            def call():
                holder["df"] = engine.query(sql)
                with tracer.span("engine.execute", "engine"):
                    return holder["df"].collect()

            with tracer.span(f"bench.{op.name}", "bench"):
                out, dt, cpu, err = timed(call, self.ctx.cpu)
            got = tuple(int(v or 0) for v in out[0]) if out else None
            want = self.expected[sql] if op.kind == "shiprange" else self._shadow_agg(*op.arg)
        ok = not err and got == want
        log.record(op.name, "read", dt, cpu, ok, err or f"got {got} want {want}")
        if ok and scan_metrics:
            files, nbytes = plan_scan_metrics(holder["df"])
            self.scan["files"] += files
            self.scan["bytes"] += nbytes
            if op.kind != "suite":
                idx = engine.index
                predict = type(idx).predict_blocks_for_sql
                predict = getattr(predict, "__perfbench_wrapped__", predict)  # untraced
                self.scan["predicted"].append(len(predict(idx, sql)) / max(1, idx.num_blocks))

    def _shadow_agg(self, lo: int, hi: int) -> tuple:
        rows = self.shadow.loc[lo:hi]
        cents = np.round(rows["o_totalprice"].to_numpy() * 100).astype(np.int64)
        return len(rows), int(rows["o_custkey"].sum()), int(cents.sum())

    def _write(self, op: Op, log: OpLog) -> None:
        eng, store, tracer = self.dml_engine, self.store, self.ctx.tracer
        lo, hi = op.arg[0], op.arg[1]
        pred = f"o_orderkey BETWEEN {lo} AND {hi}"
        if op.kind == "merge":
            updates_pdf = self._merge_batch(lo, hi, op.arg[2])
            updates = self.ctx.spark.createDataFrame(updates_pdf)
            verb = lambda: eng.merge_mor(ORDERS_TABLE, updates, "o_orderkey", store)
        else:
            verb = lambda: eng.delete_where_mor(ORDERS_TABLE, pred, store)
        data_dir = os.path.join(store.root, "data")
        before = _tree_bytes(data_dir)

        def call():
            report = verb()
            eng.register_manifest(ORDERS_TABLE, store)   # index follows the new files
            return report

        with tracer.span(f"bench.{op.name}", "bench"):
            report, dt, cpu, err = timed(call, self.ctx.cpu)
        matched = self._apply_to_shadow(op, updates_pdf if op.kind == "merge" else None)
        want_key = "matched_rows" if op.kind == "merge" else "deleted"
        ok = not err and report.get(want_key, matched) == matched
        log.record(op.name, "write", dt, cpu, ok, err or f"{want_key} {report.get(want_key)} want {matched}")
        if report:
            self._count_write(report, dt, before, data_dir)

    def _merge_batch(self, lo: int, hi: int, new_lo: int) -> pd.DataFrame:
        keys = np.concatenate([np.arange(lo, hi + 1), np.arange(new_lo, new_lo + MERGE_NEW)])
        keys = keys.astype(np.int64)
        return pd.DataFrame({
            "o_orderkey": keys,
            "o_custkey": (keys * 7) % 15_000,
            "o_orderstatus": np.where(keys % 2 == 0, "O", "F"),
            "o_totalprice": np.round(1000.0 + (keys % 9973) * 0.37, 2),
            "o_orderdate": pd.Timestamp("2001-09-01") + pd.to_timedelta(keys % 30, unit="D"),
            "o_orderpriority": "1-URGENT",
        })

    def _apply_to_shadow(self, op: Op, batch: pd.DataFrame | None) -> int:
        """Apply a write to the shadow table; return the rows it matched."""
        lo, hi = op.arg[0], op.arg[1]
        sh = self.shadow
        if op.kind == "merge":
            hit = sh.index.isin(batch["o_orderkey"])
            matched = int(hit.sum())
            self.shadow = pd.concat([sh[~hit], batch.set_index("o_orderkey", drop=False)]).sort_index()
            self.dml["changed_rows"] += len(batch)
            return matched
        rows = sh.loc[lo:hi]
        self.shadow = sh.drop(rows.index)
        self.dml["changed_rows"] += len(rows)
        return len(rows)

    def _count_write(self, report: dict, dt: float, before: int, data_dir: str) -> None:
        d = self.dml
        d["bytes_written"] += max(0, _tree_bytes(data_dir) - before)
        d["files_new"] += int(report.get("files_new", 0))
        d["files_rewritten"] += int(report.get("files_rewritten", 0))
        auto = report.get("auto_compact") or {}
        if auto.get("fired"):
            d["compactions"] += 1
            d["compacting_write_s"].append(dt)
            comp = auto.get("compaction") or {}
            d["files_rewritten"] += int(comp.get("files_rewritten", 0))
            d["files_new"] += int(comp.get("blocks_after", 0)) - int(comp.get("files_carried", 0))

    # ------------------------------------------------------------ closing
    def final_check(self) -> tuple[bool, str]:
        """Whole-table comparison of the manifest table with the shadow."""
        from pyspark.sql import functions as F

        df = self.store.read(self.ctx.spark)
        row = df.agg(F.count(F.lit(1)), F.sum("o_custkey"),
                     F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))).first()
        got = tuple(int(v or 0) for v in row)
        want = self._shadow_agg(-1, 1 << 62)
        return got == want, f"table {got} shadow {want}"

    def dml_metrics(self) -> dict[str, float]:
        """Space and write counters of the manifest table (outside the
        timed window)."""
        from columnar_database_project_spark.sources.microblock import MicroBlockWriter
        from columnar_database_project_spark.storage.cow import mor_compaction_debt

        fresh = os.path.join(self.ctx.run_dir, "orders_fresh")
        MicroBlockWriter().write(self.store.read(self.ctx.spark), fresh)
        debt = mor_compaction_debt(self.store)
        d = self.dml
        changed_bytes = d["changed_rows"] * self.row_bytes
        return {
            "space_amp": self._live_bytes() / max(1, _tree_bytes(fresh, ".parquet")),
            "compactions": d["compactions"],
            "compacting_write_ms": 1000 * median(d["compacting_write_s"]),
            "files_rewritten": d["files_rewritten"],
            "files_new": d["files_new"],
            "dv_rows": debt["dv_rows"],
            "bytes_written_per_changed_byte": d["bytes_written"] / changed_bytes if changed_bytes else 0.0,
            "files_live": debt["files"],
            "dv_taint_ratio": debt["taint_ratio"],
        }


def _tree_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(suffix))
    return total


def plan_scan_metrics(df) -> tuple[int, int]:
    """(files read, bytes read) summed over the file-scan nodes of the
    executed plan of ``df``, from Spark's SQL metrics ``numFiles`` and
    ``filesSize``; adaptive plans and query stages are unwrapped."""
    files = nbytes = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        for key in ("numFiles", "filesSize"):
            opt = metrics.get(key)
            if opt.isDefined():
                value = int(opt.get().value())
                if key == "numFiles":
                    files += value
                else:
                    nbytes += value
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return files, nbytes
